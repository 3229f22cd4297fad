"""Read-side checks of the merge-on-read fold (``SnapshotTable.read``).

The t1 replay history exercises schema evolution (ADD + RENAME + WIDEN
across 1.0→2.1), tombstones and multi-epoch delta layers, so it pins the
projected read (``columns=``), the keys-only ``count_final`` fold and the
rule that a winner's own null payload survives the fold.
"""
from __future__ import annotations

import pytest

from cdc_core_spark.engine import CdcEngine


@pytest.fixture(scope="module")
def replayed(spark, t1, registry, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("aligned"))
    eng = CdcEngine(spark, root, registry, n_buckets=8)
    src = spark.read.parquet(f'{t1["dir"]}/source_repos.parquet')
    eng.replay(f'{t1["dir"]}/change_events', source_df=src)
    return eng


def _assert_df_equal(a, b):
    assert a.columns == b.columns
    assert a.schema == b.schema
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_fold_keeps_null_payload_of_winner(spark, registry, tmp_path):
    """The winner's OWN null must survive the fold: back-filling the older
    non-null value of the key would resurrect overwritten data."""
    import pandas as pd
    from cdc_core_spark.lake import SnapshotTable

    root = str(tmp_path / "nulls")
    fields = [{"name": "repo", "type": "string"},
              {"name": "path", "type": "string"},
              {"name": "content", "type": "string"}]
    t = SnapshotTable.create(root, fields, ["repo", "path"], n_buckets=2)
    mk = lambda rows: spark.createDataFrame(
        pd.DataFrame(rows), schema=("repo string, path string, content string, "
                                    "_op_ts bigint, _event_seq bigint, "
                                    "_deleted boolean, _bucket int"))
    t.commit_delta(mk([{"repo": "r", "path": "p", "content": "old",
                        "_op_ts": 1, "_event_seq": 1, "_deleted": False,
                        "_bucket": 0}]), epoch=0, manifests=[])
    t.commit_delta(mk([{"repo": "r", "path": "p", "content": None,
                        "_op_ts": 2, "_event_seq": 2, "_deleted": False,
                        "_bucket": 0}]), epoch=1, manifests=[])
    got = t.read(spark).toPandas()
    assert len(got) == 1
    assert got["content"].isna().all()   # null wins, not "old"


def test_columns_projection_pruned_and_equal(spark, replayed):
    """``columns=`` must (a) return values identical to a post-hoc select on
    the full read — across the evolved ADD+RENAME+WIDEN history, so the
    restricted fields list still drives alias/widen normalization — and
    (b) actually prune the Spark scan: the MOR fold's max_by struct blocks
    Catalyst column pruning, which is the whole reason the parameter
    exists, so ReadSchema must not contain the unprojected wide column."""
    import re

    t = replayed.table
    cols = ["path", "language", "rev"]   # key + renamed + widened
    full = t.read(spark).select(*cols)
    proj = t.read(spark, columns=cols)
    _assert_df_equal(full, proj)

    plan = proj._jdf.queryExecution().executedPlan().toString()
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas and all("content" not in s for s in schemas), plan

    with pytest.raises(ValueError, match="unknown columns"):
        t.read(spark, columns=["language", "no_such_col"])
    with pytest.raises(ValueError, match="non-empty"):
        t.read(spark, columns=[])


def test_count_final_equals_full_fold_count(spark, replayed):
    """count_final's keys-only projected fold must agree with the full
    fold's count on a history containing tombstones and multi-epoch
    re-deliveries — the cases where a metadata count would be wrong."""
    assert replayed.count_final() == replayed.read_final().count()
