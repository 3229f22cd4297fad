"""Tests of the benchmark itself: seeded inputs, the correctness gate, and
the span arithmetic.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gate, gen
from perfbench.trace import self_times

SMALL = {"backlog": dict(n_paths=150, n_events=1_200),
         "trickle": dict(n_paths=150, epoch_events=40, n_epochs=5)}


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


@pytest.mark.parametrize("kind", sorted(SMALL))
def test_same_seed_gives_identical_inputs(tmp_path, kind):
    a = gen.ensure(str(tmp_path / "a"), kind, 5, **SMALL[kind])
    b = gen.ensure(str(tmp_path / "b"), kind, 5, **SMALL[kind])
    c = gen.ensure(str(tmp_path / "c"), kind, 6, **SMALL[kind])
    fa, fb, fc = _files(a), _files(b), _files(c)
    assert fa == fb
    assert fa["source.parquet"] != fc["source.parquet"]
    assert [k for k in fa if fa[k] != fc.get(k)]


def test_backlog_has_the_advertised_shape():
    source, events = gen.backlog(3, n_paths=500, n_events=5_000)
    assert not source.equals(gen.backlog(4, n_paths=500, n_events=5_000)[0])
    data = events[events["op"].isin([3, 4, 5])]
    # synth: one new key (born by an INSERT) per ~7 data events
    assert 0.1 < (data["op"] == 3).mean() < 0.2
    assert sorted(events.loc[events["op"] == 1, "checkpoint_epoch"]) == [3, 5, 6]
    assert events["checkpoint_epoch"].nunique() == 8
    assert (events["repo"] == gen.HOT_REPO).mean() > 0.2
    dup = events.duplicated(["repo", "path", "op_ts", "event_seq"]).sum()
    assert dup > 0
    assert (~gate.oracle.is_valid_event(data)).sum() > 0
    assert source[["repo", "path"]].duplicated().sum() == 0


def test_self_time_on_a_hand_built_tree():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},   # overlaps 2
        {"id": 4, "parent": 1, "start": 8.0, "end": 11.0},  # ends after 1
        {"id": 5, "parent": 2, "start": 1.5, "end": 2.0},
    ]
    got = self_times(spans)
    assert got == pytest.approx({1: 10 - 5 - 2, 2: 3 - 0.5, 3: 3.0, 4: 3.0,
                                 5: 0.5})


def test_point_read_check():
    row = {"content": "v2"}
    assert gate.check_point_read([row], gate.sha("v2")) is None
    assert gate.check_point_read([row], gate.sha("v1"))
    assert gate.check_point_read([row, row], gate.sha("v2"))
    assert gate.check_point_read([], None) is None
    assert gate.check_point_read([], gate.sha("v2"))
    assert gate.check_point_read([row], None)


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("CDC_DRIVER_MEM", "1g")
    from cdc_core_spark.session import get_spark
    s = get_spark(app_name="perfbench-tests", cores=2)
    yield s
    s.stop()


def test_gate_accepts_a_replay_and_rejects_a_corrupted_copy(spark, tmp_path):
    from cdc_core_spark import oracle, synth
    from cdc_core_spark.engine import CdcEngine
    from cdc_core_spark.registry import SchemaRegistry

    fx = gen.ensure(str(tmp_path / "cache"), "backlog", 7, **SMALL["backlog"])
    source, events = gen.load(fx)
    expected = oracle.expected_final(source, events)
    reg = SchemaRegistry.from_docs(synth.registry_docs())
    eng = CdcEngine(spark, str(tmp_path / "state"), reg)
    eng.replay(os.path.join(fx, "events"),
               source_df=spark.read.parquet(os.path.join(fx, "source.parquet")))
    problems, dlq = gate.check_state(spark, eng, source, events, expected)
    assert problems == []
    assert dlq == oracle.expected_quarantine_count(events)

    shutil.copytree(eng.root, tmp_path / "copy")
    bad = CdcEngine(spark, str(tmp_path / "copy"), reg)
    for f in bad.table.latest().files:
        if f.get("kind") != "delta":
            continue
        path = os.path.join(bad.table.root, f["path"])
        tab = pq.read_table(path)
        i = tab.schema.get_field_index("content")
        tab = tab.set_column(i, "content", pa.array(
            ["corrupt"] * tab.num_rows, type=tab.schema.field(i).type))
        pq.write_table(tab, path)
        # drop the local-filesystem checksum sidecar of the rewritten file
        crc = os.path.join(os.path.dirname(path),
                           f".{os.path.basename(path)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    problems, _ = gate.check_state(spark, bad, source, events, expected)
    assert any("state_crc" in p for p in problems)
    # the untouched original still passes
    assert gate.check_state(spark, eng, source, events, expected)[0] == []
