"""Correctness gate: engine state against the pure-pandas oracle."""

from __future__ import annotations

import hashlib

import pandas as pd

from cdc_core_spark import oracle
from cdc_core_spark.synth import DATA_OPS


def valid_event_count(events: pd.DataFrame) -> int:
    data = events[events["op"].isin(DATA_OPS)]
    return int(oracle.is_valid_event(data).sum())


def check_state(spark, eng, source: pd.DataFrame, events: pd.DataFrame,
                expected: pd.DataFrame) -> tuple[list[str], int]:
    """(problems, DLQ rows) for ``eng``'s table after it applied ``events``
    on top of ``source``; ``expected`` is
    ``oracle.expected_final(source, events)``. No problems = correct."""
    problems = []
    want = oracle.state_crc(spark.createDataFrame(
        expected[["repo", "path", "content_sha256"]].astype("string")))
    got = oracle.state_crc(eng.read_final_with_sha())
    if got != want:
        problems.append(f"state_crc {got} != oracle {want}")
    dlq = eng.errors_df().count()
    want_dlq = oracle.expected_quarantine_count(events)
    if dlq != want_dlq:
        problems.append(f"dlq rows {dlq} != oracle {want_dlq}")
    problems += check_manifests(eng, events)
    return problems, dlq


def check_manifests(eng, events: pd.DataFrame) -> list[str]:
    """Summed manifest ``events_read`` must equal the valid data events."""
    read = sum(m["events_read"] for m in eng.table.all_manifests()
               if m["checkpoint_epoch"] >= 0)
    want = valid_event_count(events)
    return [] if read == want else [f"manifest events_read {read} != {want}"]


def sha(content) -> str | None:
    return (hashlib.sha256(content.encode()).hexdigest()
            if isinstance(content, str) else None)


def check_point_read(rows: list, want: str | None) -> str | None:
    """A point read returns the key's committed state exactly: one row whose
    content sha is ``want``, or no row when ``want`` is None (the key is
    absent after the committed epochs)."""
    if len(rows) > 1:
        return f"point read returned {len(rows)} rows"
    if not rows:
        return None if want is None else "point read missed a committed key"
    if want is None:
        return "point read returned a row for an absent key"
    got = sha(rows[0]["content"])
    return None if got == want else f"point read returned sha {got}, want {want}"
