"""``catalog.memo``: the one freshness-keyed cache for values derived
from table files (``load_table`` relations, the q5 dim keys, the minhash
frame, the IVF/PQ arrays, the vector store's relation)."""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

import pyarrow as pa
import pyarrow.parquet as pq

from columnar_database_project_spark import catalog as C


def test_memo_policy(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(C, "_MEMO", OrderedDict())
    d = str(tmp_path)
    path = os.path.join(d, "t.parquet")
    real = os.path.realpath(path)

    def entries(key_of):
        return [k for k in C._MEMO if k[0] == "load_table" and key_of(k)]

    # a hit is the same object
    pq.write_table(pa.table({"k": [1, 2]}), path)
    first = C.load_table(spark, d, "t")
    assert C.load_table(spark, d, "t") is first

    # a file regenerated at the same path rebuilds, replacing its entry
    os.remove(path)
    pq.write_table(pa.table({"k": [1, 2, 3]}), path)
    second = C.load_table(spark, d, "t")
    assert second is not first and second.count() == 3
    assert len(entries(lambda k: k[1] == id(spark) and k[2] == real)) == 1

    # two sessions hold two DataFrame entries
    other = spark.newSession()
    third = C.load_table(other, d, "t")
    assert third is not second and third.count() == 3
    assert len(entries(lambda k: k[2] == real)) == 2

    # a build that itself calls memo completes
    nested: list = []
    t = threading.Thread(
        target=lambda: nested.append(
            C.memo(("outer",), 0, lambda: C.memo(("inner",), 0, lambda: 1) + 1)
        )
    )
    t.start()
    t.join(timeout=30)
    assert not t.is_alive() and nested == [2]

    # the LRU bound holds; a recently used key outlives older ones
    for i in range(C._MEMO_LEN):
        C.memo(("n", i), 0, lambda i=i: i)
    assert len(C._MEMO) == C._MEMO_LEN
    assert C.memo(("n", 0), 0, lambda: "rebuilt") == 0
    for i in range(C._MEMO_LEN, C._MEMO_LEN + 10):
        C.memo(("n", i), 0, lambda i=i: i)
    assert len(C._MEMO) == C._MEMO_LEN
    assert ("n", 0) in C._MEMO and ("n", 1) not in C._MEMO
    assert not entries(lambda k: True)
