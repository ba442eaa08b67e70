"""apply_runtime_confs memoization scope (ADVICE r13, medium): the
confs it sets are per-SparkSession, but the r13 memo was keyed on
applicationId — ``spark.newSession()`` keeps the applicationId while
resetting the session confs, so the second session silently skipped
them and timestamp[ns] reads failed or shifted timezone.  The memo is
now keyed on the session OBJECT (WeakSet)."""

from __future__ import annotations

from fletcher_spark.session import RUNTIME_CONFS, apply_runtime_confs


def test_new_session_over_same_context_gets_confs(spark):
    apply_runtime_confs(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"

    s2 = spark.newSession()
    try:
        # same applicationId, fresh session confs — the r13 memo's blind spot
        assert s2.sparkContext.applicationId == spark.sparkContext.applicationId
        s2.conf.set("spark.sql.session.timeZone", "America/New_York")
        apply_runtime_confs(s2)
        for k, v in RUNTIME_CONFS.items():
            assert s2.conf.get(k) == v, k
    finally:
        # leave the primary session untouched for the rest of the suite
        apply_runtime_confs(spark)


def test_memo_is_idempotent_per_session(spark):
    apply_runtime_confs(spark)
    # flip one conf behind the memo's back: a second call must be a no-op
    spark.conf.set("spark.sql.session.timeZone", "UTC")  # keep value sane
    assert apply_runtime_confs(spark) is spark


def test_dataframe_debugging_capture_disabled(spark):
    # r14: apply_runtime_confs flips the process-global gate that
    # PySpark's per-op call-site capture consults (the static conf's
    # cache) — the capture costs ~5 ms + 2 py4j round-trips per
    # DataFrame operation and only enriches error messages
    import pyspark.errors.utils as eu

    from fletcher_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    assert eu.is_debugging_enabled() is False


def test_debugging_capture_flip_cuts_py4j_calls(spark):
    # behavioural canary for the private-API flip: the attribute check
    # above passes even if a pyspark bump stops consulting the cache.
    # Count py4j round trips for one trivial Column operation with the
    # gate off and on; the off count must be lower, or the flip has
    # silently stopped saving anything
    import pyspark.errors.utils as eu
    import pyspark.sql.functions as F
    from py4j import clientserver, java_gateway

    apply_runtime_confs(spark)
    calls = [0]
    classes = (clientserver.ClientServerConnection, java_gateway.GatewayConnection)
    saved = {cls: cls.send_command for cls in classes}
    saved_gate = eu._enable_debugging_cache

    def counting(send):
        def send_command(self, command, *args, **kwargs):
            calls[0] += 1
            return send(self, command, *args, **kwargs)

        return send_command

    def count(gate: bool) -> int:
        eu._enable_debugging_cache = gate
        calls[0] = 0
        F.col("x") + 1
        return calls[0]

    try:
        for cls, send in saved.items():
            cls.send_command = counting(send)
        off, on = count(False), count(True)
    finally:
        for cls, send in saved.items():
            cls.send_command = send
        eu._enable_debugging_cache = saved_gate
    assert 0 < off < on, (off, on)
