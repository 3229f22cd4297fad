"""Seeded input generators for the benchmark workloads.

Each generator is a pure function of its seed and size parameters and
returns plain pandas frames in the engine's change-event envelope
(``cdc_core_spark.synth.EVENT_COLUMNS``).

* ``backlog`` is ``synth.generate`` at a benchmark scale, with the module's
  seed swapped for the run's seed during the call.
* ``trickle`` draws small update epochs over ``synth``'s key universe and
  reuses ``synth.content_of`` / ``synth.commit_of``, so content is a
  function of ``(repo, path, rev)`` and the oracle can check per-row sha256
  equality.

``ensure`` materializes a generator's output as parquet under a cache
directory keyed by workload, seed, size parameters and a hash of the
generating code; the engine only ever sees those files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd

from cdc_core_spark import synth
from cdc_core_spark.synth import (EVENT_COLUMNS, OP_INSERT, OP_UPDATE,
                                  BASE_TS)

HOT_REPO = "org0/repo0"  # synth's hot repo: 32% of all paths
REPEAT = (2, 4)          # content = sha256 hex repeated 2..4 times
ZIPF_S = 1.1             # trickle update popularity
INSERT_SHARE = 0.10      # trickle events that insert a new key


def backlog(seed: int, n_paths: int, n_events: int
            ) -> tuple[pd.DataFrame, pd.DataFrame]:
    """``synth.generate`` at ``n_paths`` snapshot rows and ``n_events`` data
    events over its 8 epochs (inserts, deletes, duplicates, out-of-order and
    malformed events, in-band ADD/RENAME/WIDEN DDL, a hot repo)."""
    saved = synth.SEED
    synth.SEED = seed
    try:
        fx = synth.generate(synth.Scale("perfbench", n_paths, n_events,
                                        repeat=REPEAT))
    finally:
        synth.SEED = saved
    return fx.source_repos, fx.change_events


def trickle(seed: int, n_paths: int, n_epochs: int, epoch_events: int
            ) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Snapshot + ``n_epochs`` small epochs in arrival order: each epoch
    updates Zipf(``ZIPF_S``)-popular snapshot keys and inserts
    ``INSERT_SHARE`` brand-new keys. ``op_ts`` rises monotonically, so each
    epoch's winners supersede every earlier version of their keys."""
    salt = int.from_bytes(hashlib.sha256(b"trickle").digest()[:4], "big")
    rng = np.random.default_rng([seed, salt])
    n_ins = int(round(epoch_events * INSERT_SHARE))
    n_upd = epoch_events - n_ins
    n_keys = n_paths + n_ins * n_epochs
    repos, paths, langs, _ = synth._make_keys(
        synth.Scale("trickle", n_keys, 0), rng)
    rev = pd.Series(1, index=range(n_paths))
    source = pd.DataFrame({"repo": repos[:n_paths], "path": paths[:n_paths],
                           "lang": langs[:n_paths]})
    source["commit"] = synth.commit_of(source["repo"], source["path"], rev)
    source["content"] = synth.content_of(source["repo"], source["path"], rev,
                                         REPEAT)
    source = source[["repo", "path", "commit", "lang", "content"]]

    w = np.arange(1, n_paths + 1, dtype=float) ** -ZIPF_S
    popular = rng.permutation(n_paths)
    upd = popular[rng.choice(n_paths, size=(n_epochs, n_upd), p=w / w.sum())]
    ins = n_paths + np.arange(n_epochs * n_ins).reshape(n_epochs, n_ins)
    key = np.concatenate([upd, ins], axis=1)
    for row in key:                       # arrival order within an epoch
        rng.shuffle(row)
    key = key.ravel()
    n = len(key)
    ev = pd.DataFrame({"op": np.where(key >= n_paths, OP_INSERT, OP_UPDATE),
                       "repo": repos[key], "path": paths[key],
                       "lang": langs[key]})
    ev["rev"] = (ev.groupby(["repo", "path"]).cumcount().to_numpy()
                 + np.where(key >= n_paths, 1, 2))
    ev["commit"] = synth.commit_of(ev["repo"], ev["path"], ev["rev"])
    ev["content"] = synth.content_of(ev["repo"], ev["path"], ev["rev"], REPEAT)
    ev["language"] = pd.Series(pd.NA, index=ev.index, dtype="string")
    ev["size_bytes"] = pd.array([pd.NA] * n, dtype="Int64")
    ev["op_ts"] = BASE_TS + 1_000 * np.arange(n, dtype=np.int64)
    ev["event_seq"] = np.arange(1, n + 1, dtype=np.int64)
    ev["txid"] = np.arange(n, dtype=np.int64) // 25 + 1
    ev["schema_version"] = "1.0"
    ev["checkpoint_epoch"] = (np.arange(n) // epoch_events).astype(np.int32)
    ev = ev[EVENT_COLUMNS]
    # string columns must be written as strings, see synth.generate
    for c in ("repo", "path", "commit", "lang", "content", "schema_version"):
        ev[c] = ev[c].astype("string")
    ev["rev"] = pd.array(ev["rev"], dtype="Int64")
    return source, ev


GENERATORS = {"backlog": backlog, "trickle": trickle}


def _code_hash() -> str:
    with open(__file__, "rb") as f:
        own = f.read()
    return hashlib.sha256(own + synth.generator_fingerprint().encode()
                          ).hexdigest()[:16]


def ensure(cache_root: str, kind: str, seed: int, **params) -> str:
    """Parquet inputs for ``GENERATORS[kind](seed, **params)``, generated
    once per (kind, seed, params, code hash): ``source.parquet`` plus
    ``events/checkpoint_epoch=<e>/part-0.parquet``."""
    key = json.dumps({"kind": kind, "seed": seed, **params}, sort_keys=True)
    tag = hashlib.sha256((key + _code_hash()).encode()).hexdigest()[:16]
    out = os.path.join(cache_root, f"{kind}-s{seed}-{tag}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    source, events = GENERATORS[kind](seed, **params)
    os.makedirs(out)
    source.to_parquet(os.path.join(out, "source.parquet"), index=False)
    for ep, part in events.groupby("checkpoint_epoch"):
        d = os.path.join(out, "events", f"checkpoint_epoch={ep}")
        os.makedirs(d)
        part.drop(columns="checkpoint_epoch").to_parquet(
            os.path.join(d, "part-0.parquet"), index=False)
    with open(os.path.join(out, "_DONE"), "w") as f:
        f.write(key)
    return out


def load(fixture_dir: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(source, events) back from an ``ensure`` directory, events with an
    integer ``checkpoint_epoch`` column as the oracle expects."""
    source = pd.read_parquet(os.path.join(fixture_dir, "source.parquet"))
    parts = []
    ev_dir = os.path.join(fixture_dir, "events")
    for name in sorted(os.listdir(ev_dir)):
        part = pd.read_parquet(os.path.join(ev_dir, name, "part-0.parquet"))
        part["checkpoint_epoch"] = int(name.split("=")[1])
        parts.append(part)
    return source, pd.concat(parts, ignore_index=True)
