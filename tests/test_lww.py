"""Unit tests for the LWW reduction: ties, out-of-order, duplicate delivery,
salt invariance (SURVEY.md §5.2)."""

from __future__ import annotations

from cdc_core_spark.lww import lww_reduce

DDL = "repo string, path string, v string, _op_ts long, _event_seq long"


def _df(spark, rows):
    return spark.createDataFrame(rows, schema=DDL)


def _winners(df, salt=None):
    out = lww_reduce(df, ["repo", "path"], ["v"], salt=salt)
    return {(r["repo"], r["path"]): (r["v"], r["_op_ts"], r["_event_seq"])
            for r in out.collect()}


def test_basic_last_writer_wins(spark):
    df = _df(spark, [("r", "a", "v1", 100, 1), ("r", "a", "v2", 200, 2)])
    assert _winners(df)[("r", "a")] == ("v2", 200, 2)


def test_tie_broken_by_event_seq(spark):
    # equal op_ts (the ~1% ties fixture): event_seq is the total-order tiebreak,
    # mirroring TransactionId.sequence (TransactionId.java:30-43)
    df = _df(spark, [("r", "a", "lo", 100, 5), ("r", "a", "hi", 100, 9)])
    assert _winners(df)[("r", "a")] == ("hi", 100, 9)


def test_out_of_order_delivery(spark):
    # an event with lower (op_ts, seq) arriving later in the batch loses
    df = _df(spark, [("r", "a", "new", 500, 7), ("r", "a", "old", 100, 2)])
    assert _winners(df)[("r", "a")] == ("new", 500, 7)


def test_duplicate_delivery_collapses(spark):
    # exact duplicates (same dedup key, same payload) need no dropDuplicates:
    # the max_by tie collapses them
    df = _df(spark, [("r", "a", "x", 100, 1), ("r", "a", "x", 100, 1),
                     ("r", "a", "x", 100, 1)])
    out = lww_reduce(df, ["repo", "path"], ["v"])
    assert out.count() == 1
    assert _winners(df)[("r", "a")] == ("x", 100, 1)


def test_salted_equals_unsalted(spark):
    rows = []
    for k in range(20):
        for i in range(15):
            rows.append(("hot" if k < 3 else f"r{k}", f"p{k}",
                         f"v{k}-{i}", 1000 + (i * 13) % 7 * 10, k * 100 + i))
    df = _df(spark, rows)
    base = _winners(df)
    for salt in (1, 2, 8, 64):
        assert _winners(df, salt=salt) == base, f"salt={salt} changed results"


def test_in_partition_fold_matches_maxby_on_nulls(spark):
    """The max_by null semantics any fold must match: a null version LOSES,
    null-key rows survive as their own group, and a winner's OWN null
    payload is kept (never back-filled from an older version of the key)."""
    ddl = ("k string, payload string, _op_ts long, _event_seq long, "
           "_deleted boolean")
    rows = [("a", "old", 5, 1, False), ("a", "nullver", None, None, False),
            (None, "nullkey", 7, 2, False),
            ("b", "old", 1, 3, False), ("b", None, 2, 4, False)]
    df = spark.createDataFrame(rows, ddl).repartition(1)
    got = {r["k"]: r["payload"]
           for r in lww_reduce(df, ["k"], ["payload", "_deleted"]).collect()}
    assert got == {"a": "old", None: "nullkey", "b": None}


def test_adaptive_salt_probe_and_equivalence(spark):
    """choose_lww_salt: a dominant hot key (>= threshold share) triggers
    salting, a uniform stream does not, and an undersized sample never
    does; lww_reduce_adaptive equals plain lww_reduce on both shapes."""
    from cdc_core_spark.lww import (choose_lww_salt, lww_reduce,
                                    lww_reduce_adaptive)

    uniform = _df(spark, [(f"r{k}", f"p{k}", f"v{i}", 100 + i, k * 100 + i)
                          for k in range(40) for i in range(50)])
    hot = _df(spark, [("hot", "p", f"v{i}", 100 + i, i)
                      for i in range(1600)]
              + [(f"r{k}", f"p{k}", "v", 100, 10_000 + k)
                 for k in range(400)])

    # sample the whole stream so the tiny fixtures carry signal
    kw = dict(sample_fraction=1.0, min_sample_rows=100)
    assert choose_lww_salt(uniform, ["repo", "path"], **kw) is None
    assert choose_lww_salt(hot, ["repo", "path"], **kw) == 16
    # undersized sample: not enough signal to justify the 2.7x exception
    assert choose_lww_salt(hot, ["repo", "path"], sample_fraction=1.0,
                           min_sample_rows=10_000) is None

    for df in (uniform, hot):
        want = {tuple(r) for r in
                lww_reduce(df, ["repo", "path"], ["v"]).collect()}
        got = {tuple(r) for r in
               lww_reduce_adaptive(df, ["repo", "path"], ["v"],
                                   **kw).collect()}
        assert got == want
