"""Counters of what a piece of driver code asks of Spark: the jobs it
runs and the py4j calls it makes. Shared by the suites that pin the
cost of a code path rather than its result."""

from __future__ import annotations

import threading


def jobs_run(spark, fn) -> list[int]:
    """Ids of the Spark jobs that ``fn()`` ran on this thread."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()   # status store is async
    return list(sc.statusTracker().getJobIdsForGroup(group))


def py4j_calls(spark, monkeypatch, fn) -> int:
    """py4j commands ``fn()`` sends from this thread. py4j's finalizer
    thread, which releases collected Java objects, is not counted."""
    cls = type(spark.sparkContext._gateway._gateway_client)
    send = cls.send_command
    me = threading.get_ident()
    n = 0

    def counting(self, *args, **kwargs):
        nonlocal n
        if threading.get_ident() == me:
            n += 1
        return send(self, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(cls, "send_command", counting)
        fn()
    return n
