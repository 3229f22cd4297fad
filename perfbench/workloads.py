"""The workloads: two ways users load a CDC ingest-and-serve engine.

* ``backlog_replay`` — bootstrap and catch-up. A fresh table takes the
  snapshot load, then drains an 8-epoch backlog (DDL, deletes, redelivered
  duplicates, out-of-order and malformed events) that has landed all at
  once; after a maintenance compaction the caught-up table serves reads.
  Write-heavy; group commit amortizes per-epoch overhead.
* ``trickle_serve`` — freshness beside reads. An open loop lands one small
  epoch every ``TRICKLE_INTERVAL_S``; one serving loop replays whatever has
  landed (group commit batches any backlog), compacts every
  ``COMPACT_EVERY`` committed epochs, as a maintenance cron would, and
  serves reads in the time ingest leaves idle. Per-call fixed cost
  dominates.

Reads are point reads (``find_by_key(read_final(), key)``), alternating
keys of the newest epoch and uniform keys, with a search page every
``SEARCH_EVERY``-th operation. Reads run strictly between commits, so each
is checked exactly: the key's content as of the committed epochs, one row
or, for a key absent there, none.

Every workload builds ``CdcEngine`` with its defaults, so a change to a
default is measured. Each timed table gets a fresh state directory, with
``os.sync()`` first so deferred writeback of the previous one does not land
inside the timed region.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from cdc_core_spark import oracle, synth
from cdc_core_spark.engine import CdcEngine
from cdc_core_spark.query import Q, find_by_key, search
from cdc_core_spark.registry import SchemaRegistry
from perfbench import gate, gen
from perfbench.trace import Tracer, layer_metrics

SETUP_ROUNDS = 3        # table set-ups per run; setup_s takes their median
BACKLOG_MIN_READS = 12  # read operations per backlog run, at least
SEARCH_EVERY = 3        # every third read operation is a search page
SEARCH_PAGE = 20

# synth's t1 shape; ~90% of its drain is fixed per-call and per-commit
# cost, but each 100k more events would add ~6 s to every run (generation,
# drain, gate), which the benchmark's time budget does not have
BACKLOG = dict(n_paths=2_000, n_events=20_000)
TRICKLE = dict(n_paths=3_000, epoch_events=200)
# a replay costs ~2 s and a compaction 1.5-3 s, so at one epoch per 5 s
# with a compaction every 2 epochs the serving loop is about half busy
TRICKLE_INTERVAL_S = 5.0
COMPACT_EVERY = 2       # committed epochs between maintenance compactions
COMPACT_MIN_FILES = 2   # ... which re-base buckets with this many deltas
WARM_EPOCHS = 2
TRICKLE_MIN_READS = 12  # read operations per trickle run, at least


@dataclass
class Ctx:
    spark: object
    work: str
    cache: str
    seed: int
    seconds: float
    trace: bool
    session_s: float


@dataclass
class Result:
    metrics: dict = field(default_factory=dict)   # name -> (value, unit)
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    info: dict = field(default_factory=dict)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)


def pct(values, q: float) -> float:
    """The q-th percentile; 0 for no samples (their operations all failed,
    which already fails the run)."""
    if not len(values):
        return 0.0
    return float(np.percentile(np.asarray(values, dtype=float), q))


class Ops:
    """Attempted/failed operation counts. Operations are epoch applies,
    reads and maintenance calls."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, weight: int, fn, *args, **kwargs):
        """Call ``fn`` as ``weight`` operations; ``(ok, value)``. An
        exception is logged and its operations counted as failed."""
        self.attempted += weight
        try:
            return True, fn(*args, **kwargs)
        except Exception:
            traceback.print_exc()
            self.failed += weight
            return False, None


def fresh_engine(ctx: Ctx, name: str) -> CdcEngine:
    root = os.path.join(ctx.work, name)
    shutil.rmtree(root, ignore_errors=True)
    os.sync()
    return CdcEngine(ctx.spark, root,
                     SchemaRegistry.from_docs(synth.registry_docs()))


def publish_times(eng: CdcEngine) -> list[tuple[int, float]]:
    """(epoch, publish wall time) of every data commit, in commit order; a
    group commit is listed under its last epoch."""
    return [(h["epoch"], h["committed_at_ms"] / 1000.0)
            for h in eng.table.history() if h["epoch"] is not None]


def visible_at(commits: list[tuple[int, float]], epoch: int) -> float:
    """Publish time of the commit that made ``epoch`` visible."""
    return next(at for ep, at in commits if ep >= epoch)


def committed_prefix(eng: CdcEngine) -> int:
    """Highest committed epoch (-1: only the snapshot load)."""
    return max((ep for ep, _ in publish_times(eng)), default=-1)


@dataclass
class Inputs:
    """One run's generated inputs, shared by its stages."""
    fx: str                 # the gen.ensure directory
    source: pd.DataFrame
    events: pd.DataFrame
    src_df: object          # the snapshot as a Spark DataFrame
    _expected: dict = field(default_factory=dict)
    _shas: dict = field(default_factory=dict)

    def expected(self, prefix: int) -> pd.DataFrame:
        """``oracle.expected_final`` over epochs <= ``prefix`` (-1: the
        snapshot alone)."""
        if prefix not in self._expected:
            self._expected[prefix] = oracle.expected_final(
                self.source, self.events, max_epoch=prefix)
        return self._expected[prefix]

    def shas(self, prefix: int) -> dict:
        """Key -> content sha256 of the live rows after epochs <= ``prefix``."""
        if prefix not in self._shas:
            e = self.expected(prefix)
            self._shas[prefix] = dict(zip(zip(e["repo"], e["path"]),
                                          e["content_sha256"]))
        return self._shas[prefix]

    def keys(self) -> list:
        """Every key the snapshot or a valid event names, sorted."""
        ev = self.events[oracle.is_valid_event(self.events)]
        return sorted(set(zip(self.source["repo"], self.source["path"]))
                      | set(zip(ev["repo"], ev["path"])))


class Reader:
    """Closed-loop point reads and search pages through the public read
    API, each checked against the oracle state of the committed epochs."""

    def __init__(self, tracer: Tracer | None, ops: Ops, inp: Inputs,
                 seed: int):
        self.tracer, self.ops, self.inp = tracer, ops, inp
        self.rng = np.random.default_rng(seed)
        self.point_s: list[float] = []
        self.search_s: list[float] = []
        self.delta_depth: list[int] = []
        self.problems: list[str] = []
        self.n = 0

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def step(self, eng: CdcEngine, recent_keys: list, any_keys: list) -> None:
        """One operation against ``eng``."""
        prefix = committed_prefix(eng)
        if self.tracer:
            self.delta_depth.append(sum(
                f.get("kind") == "delta" for f in eng.table.latest().files))
        self.n += 1
        if self.n % SEARCH_EVERY == 0:
            self.search(eng, gen.HOT_REPO)
            return
        keys = recent_keys if self.n % 2 and recent_keys else any_keys
        key = keys[int(self.rng.integers(len(keys)))]
        want = self.inp.shas(prefix).get(key)
        t = time.monotonic()
        with self._span("query.point_read"):
            ok, rows = self.ops.run(1, lambda: find_by_key(
                eng.read_final(), {"repo": key[0], "path": key[1]}).collect())
        if ok:
            self.point_s.append(time.monotonic() - t)
            err = gate.check_point_read(rows, want)
            if err:
                self.problems.append(f"{err} for {key} after epoch {prefix}")

    def search(self, eng: CdcEngine, repo: str) -> None:
        q = Q(where="repo = :r", sort=[("path", "asc")], params={"r": repo})
        t = time.monotonic()
        with self._span("query.search"):
            ok, rows = self.ops.run(1, lambda: search(
                eng.read_final(), q, max_results=SEARCH_PAGE).collect())
        if ok:
            self.search_s.append(time.monotonic() - t)
            paths = [r["path"] for r in rows]
            if (len(rows) > SEARCH_PAGE or paths != sorted(paths)
                    or any(r["repo"] != repo for r in rows)):
                self.problems.append(f"search page for {repo} is wrong")


@dataclass
class Phase:
    """Samples of one measured phase."""
    eng: CdcEngine
    reader: Reader
    freshness: list = field(default_factory=list)
    replays: list = field(default_factory=list)  # (valid events, wall s)
    problems: list = field(default_factory=list)
    backlog_max: int = 0
    landing_late_max: float = 0.0


def _metrics(ctx: Ctx, res: Result, ph: Phase, setup_s: float,
             live_bytes: int) -> None:
    m = res.metrics
    # the median replay call's rate: one slow call does not move it
    m["ingest_events_per_s"] = (
        statistics.median([e / s for e, s in ph.replays] or [0.0]), "1/s")
    m["freshness_s_p50"] = (pct(ph.freshness, 50), "s")
    m["freshness_s_p90"] = (pct(ph.freshness, 90), "s")
    m["point_read_s_p50"] = (pct(ph.reader.point_s, 50), "s")
    m["point_read_s_p90"] = (pct(ph.reader.point_s, 90), "s")
    m["search_s_p50"] = (pct(ph.reader.search_s, 50), "s")
    files = ph.eng.table.inspect(ctx.spark, "files").groupBy().sum("bytes").first()[0]
    m["storage_bytes_per_user_byte"] = (files / live_bytes, "ratio")
    m["setup_s"] = (setup_s, "s")
    res.info.update(point_reads=len(ph.reader.point_s),
                    searches=len(ph.reader.search_s),
                    freshness_s=[round(f, 2) for f in ph.freshness],
                    events_applied=sum(e for e, _ in ph.replays),
                    ingest_s=round(sum(s for _, s in ph.replays), 3))


def _layers(res: Result, tracer: Tracer, ph: Phase, epochs: int, dlq: int,
            gen_s: float, overhead: float) -> None:
    for k, v in layer_metrics(tracer.spans).items():
        res.layers[k] = (v, "s" if k.endswith("_s") else "count")
    replay_runs = {s["run"] for s in tracer.spans
                   if s["name"] == "engine.replay" and s["parent"] is None}
    jobs = sum(s["spark_jobs"] for s in tracer.spans if s["run"] in replay_runs)
    mf = [m for m in ph.eng.table.all_manifests() if m["checkpoint_epoch"] >= 0]
    read = sum(m["events_read"] for m in mf)
    applied = sum(m["events_applied"] for m in mf)
    written = sum(m.get("bytes_written", 0) for m in mf)
    depth = ph.reader.delta_depth or [0]
    res.layers.update({
        "engine.spark_jobs_per_epoch": (jobs / max(epochs, 1), "count"),
        "engine.epochs_per_commit": (
            len({m["checkpoint_epoch"] for m in mf})
            / max(len(publish_times(ph.eng)), 1), "count"),
        "engine.backlog_epochs_max": (ph.backlog_max, "count"),
        "engine.dlq_rows": (dlq, "count"),
        "lww.events_per_winner": (read / max(applied, 1), "ratio"),
        "lake.bytes_written_per_event": (written / max(read, 1), "B"),
        "lake.delta_files_at_read_p50": (pct(depth, 50), "count"),
        "lake.delta_files_at_read_max": (max(depth), "count"),
        "lake.snapshot_versions": (len(ph.eng.table.history()), "count"),
        "lake.commit_conflicts": (tracer.conflicts, "count"),
        "bench.landing_late_s_max": (ph.landing_late_max, "s"),
        "bench.gen_s": (gen_s, "s"),
        "bench.tracing_overhead_pct": (overhead, "%"),
    })


def set_up(ctx: Ctx, inp: Inputs, name: str) -> CdcEngine:
    """A table set-up: fresh state directory and the snapshot load."""
    eng = fresh_engine(ctx, name)
    eng.initial_load(inp.src_df)
    return eng


def _run(ctx: Ctx, kind: str, params: dict, warm_up, phase) -> Result:
    """Shared skeleton: generate, warm up, time the table set-ups, measure
    (traced with ``--trace 1``), check, report. ``phase(ctx, inp, base,
    tracer, ops)`` measures, starting from the set-up table ``base``, and
    returns a ``Phase``."""
    res = Result()
    t = time.monotonic()
    fx = gen.ensure(ctx.cache, kind, ctx.seed, **params)
    gen_s = time.monotonic() - t
    source, events = gen.load(fx)
    inp = Inputs(fx, source, events,
                 ctx.spark.read.parquet(os.path.join(fx, "source.parquet")))
    ops = Ops()

    t = time.monotonic()
    warm_up(ctx, inp)
    warmup_s = time.monotonic() - t
    rounds, base = [], None
    for i in range(SETUP_ROUNDS):
        if base is not None:
            shutil.rmtree(base.root, ignore_errors=True)
        t = time.monotonic()
        base = set_up(ctx, inp, f"base{i}")
        rounds.append(time.monotonic() - t)
    log(f"session {ctx.session_s:.2f}s warm-up {warmup_s:.2f}s "
        f"set-ups {[round(r, 2) for r in rounds]}")

    tracer = Tracer(ctx.spark.sparkContext) if ctx.trace else None
    if tracer:
        tracer.install()
    try:
        t = time.monotonic()
        ph = phase(ctx, inp, base, tracer, ops)
        phase_s = time.monotonic() - t
        log(f"phase {phase_s:.2f}s")
    finally:
        if tracer:
            tracer.uninstall()

    committed = committed_prefix(ph.eng)
    applied = events[events["checkpoint_epoch"] <= committed]
    expected = inp.expected(committed)
    problems, dlq = gate.check_state(ctx.spark, ph.eng, source, applied,
                                     expected)
    res.problems += problems + ph.problems + ph.reader.problems
    log(f"gate done, {len(res.problems)} problems")
    _metrics(ctx, res, ph, ctx.session_s + warmup_s + statistics.median(rounds),
             int(expected["content"].str.len().sum()))
    if tracer is not None:
        _layers(res, tracer, ph, committed + 1, dlq, gen_s,
                100.0 * tracer.overhead_s / phase_s)
        tracer.dump(ctx.work + "-spans.json")
    # a failed correctness check counts as a failed operation
    res.attempted = ops.attempted + len(res.problems)
    res.failed = ops.failed + len(res.problems)
    res.metrics["success_rate"] = (1.0 - res.failed / max(res.attempted, 1),
                                   "ratio")
    res.info.update(session_s=round(ctx.session_s, 3),
                    warmup_s=round(warmup_s, 3),
                    setup_rounds_s=[round(r, 3) for r in rounds],
                    gen_s=round(gen_s, 3), events=len(events))
    return res


# ---------------------------------------------------------------- backlog

def _backlog_warm_up(ctx: Ctx, inp: Inputs) -> None:
    eng = fresh_engine(ctx, "warm")
    eng.replay(os.path.join(inp.fx, "events"), source_df=inp.src_df)
    eng.compact()
    # as many reads as a run serves: the read path is still getting faster
    # over its first reads, which made the median depend on how many reads
    # a run happened to fit in
    reader = Reader(None, Ops(), inp, ctx.seed)
    keys = inp.keys()
    while reader.n < BACKLOG_MIN_READS:
        reader.step(eng, [], keys)
    shutil.rmtree(eng.root, ignore_errors=True)


def _backlog_phase(ctx: Ctx, inp: Inputs, base: CdcEngine, tracer, ops) -> Phase:
    """Drain the whole backlog into a fresh table, run the maintenance
    compaction, then serve reads until ``seconds`` have passed and at least
    BACKLOG_MIN_READS operations are done."""
    shutil.rmtree(base.root, ignore_errors=True)
    eng = fresh_engine(ctx, os.path.basename(base.root))
    events = inp.events
    n_epochs = int(events["checkpoint_epoch"].max()) + 1
    last = events[(events["checkpoint_epoch"] == n_epochs - 1)
                  & events["repo"].notna() & events["op"].isin(synth.DATA_OPS)]
    recent = sorted(set(zip(last["repo"], last["path"])))
    every = inp.keys()
    inp.shas(n_epochs - 1)           # the oracle state the reads check
    reader = Reader(tracer, ops, inp, ctx.seed)
    ph = Phase(eng, reader, backlog_max=n_epochs)
    t0, w0 = time.monotonic(), time.time()
    ok, _ = ops.run(n_epochs, eng.replay, os.path.join(inp.fx, "events"),
                    source_df=inp.src_df)
    if ok:
        ph.replays.append((gate.valid_event_count(events),
                           time.monotonic() - t0))
        commits = publish_times(eng)
        ph.freshness = [visible_at(commits, e) - w0 for e in range(n_epochs)]
        ph.problems += gate.check_manifests(eng, events)
        # reads that fold the drain's delta layers take ~2 s each
        ops.run(1, eng.compact)
    while (reader.n < BACKLOG_MIN_READS
           or time.monotonic() - t0 < ctx.seconds):
        reader.step(eng, recent, every)
    return ph


def backlog_replay(ctx: Ctx) -> Result:
    return _run(ctx, "backlog", BACKLOG, _backlog_warm_up, _backlog_phase)


# ---------------------------------------------------------------- trickle

def _copy_epoch(inp: Inputs, log_dir: str, epoch: int) -> None:
    name = f"checkpoint_epoch={epoch}"
    shutil.copytree(os.path.join(inp.fx, "events", name),
                    os.path.join(log_dir, name))


def _trickle_warm_up(ctx: Ctx, inp: Inputs) -> None:
    eng = set_up(ctx, inp, "warm")
    log_dir = os.path.join(ctx.work, "warm-log")
    reader = Reader(None, Ops(), inp, ctx.seed)
    every = inp.keys()
    for e in range(WARM_EPOCHS):
        _copy_epoch(inp, log_dir, e)
        eng.replay(log_dir, epochs=list(range(e + 1)))
        reader.step(eng, every, every)
    eng.compact(min_delta_files=1)
    reader.step(eng, every, every)
    reader.search(eng, gen.HOT_REPO)
    shutil.rmtree(eng.root, ignore_errors=True)
    shutil.rmtree(log_dir, ignore_errors=True)


def _trickle_epochs(seconds: float) -> int:
    return int(seconds / TRICKLE_INTERVAL_S) + 1


def _trickle_phase(ctx: Ctx, inp: Inputs, eng: CdcEngine, tracer, ops) -> Phase:
    """An open-loop landing thread renames pre-built epoch directories into
    the log on schedule; the serving loop applies whatever has landed,
    compacts every COMPACT_EVERY committed epochs, serves one read, and
    repeats; so reads fill the time ingest leaves idle. When ingest leaves
    too little, reads continue after the last commit up to
    TRICKLE_MIN_READS."""
    n_epochs = _trickle_epochs(ctx.seconds)
    name = os.path.basename(eng.root)
    staging = os.path.join(ctx.work, f"{name}-staging")
    log_dir = os.path.join(ctx.work, f"{name}-log")
    os.makedirs(log_dir)
    for e in range(n_epochs):
        _copy_epoch(inp, staging, e)
    events = inp.events
    valid = events[oracle.is_valid_event(events)].groupby(
        "checkpoint_epoch").size().to_dict()
    by_epoch = {e: sorted(set(zip(g["repo"], g["path"])))
                for e, g in events.groupby("checkpoint_epoch")}
    every = sorted(zip(inp.source["repo"], inp.source["path"]))
    for p in range(-1, n_epochs):    # the oracle state after each prefix
        inp.shas(p)
    reader = Reader(tracer, ops, inp, ctx.seed)
    ph = Phase(eng, reader)
    lock = threading.Lock()
    due_wall: list[float] = []      # scheduled landing of each landed epoch
    landing_done = threading.Event()
    os.sync()
    t0, w0 = time.monotonic(), time.time()

    def landing():
        try:
            for e in range(n_epochs):
                due = e * TRICKLE_INTERVAL_S
                if due > ctx.seconds:
                    break
                time.sleep(max(0.0, t0 + due - time.monotonic()))
                name = f"checkpoint_epoch={e}"
                os.rename(os.path.join(staging, name),
                          os.path.join(log_dir, name))
                ph.landing_late_max = max(ph.landing_late_max,
                                          time.monotonic() - t0 - due)
                with lock:
                    due_wall.append(w0 + due)
        finally:
            landing_done.set()

    lander = threading.Thread(target=landing)
    lander.start()
    done, fails = 0, 0
    try:
        while fails < 3:
            # read before ``landed``: an epoch that lands in between is
            # then applied on the next pass instead of being skipped
            finished = landing_done.is_set()
            with lock:
                landed = len(due_wall)
            if landed > done:
                ph.backlog_max = max(ph.backlog_max, landed - done)
                m0 = time.monotonic()
                ok, _ = ops.run(landed - done, eng.replay, log_dir,
                                epochs=list(range(landed)))
                if not ok:
                    fails += 1
                    continue
                ph.replays.append((sum(valid.get(e, 0)
                                       for e in range(done, landed)),
                                   time.monotonic() - m0))
                # the end-of-run compaction below stands in for the last one
                if (landed // COMPACT_EVERY > done // COMPACT_EVERY
                        and not finished):
                    ops.run(1, eng.compact, min_delta_files=COMPACT_MIN_FILES)
                done = landed
            elif finished and reader.n >= TRICKLE_MIN_READS:
                break
            if (time.monotonic() - t0 < ctx.seconds
                    or reader.n < TRICKLE_MIN_READS):
                reader.step(eng, by_epoch.get(landed - 1, []), every)
            else:
                time.sleep(0.005)
    finally:
        lander.join()
    if fails >= 3:
        ph.problems.append("ingest gave up after 3 failed replays")
    committed = committed_prefix(eng) + 1
    if committed < len(due_wall):
        ph.problems.append(f"{len(due_wall) - committed} landed epochs "
                           "were never committed")
    commits = publish_times(eng)
    ph.freshness = [visible_at(commits, e) - due_wall[e]
                    for e in range(min(committed, len(due_wall)))]
    # end-of-run maintenance: re-base every bucket, so storage is measured
    # on a state that does not depend on how commits happened to group
    ops.run(1, eng.compact)
    shutil.rmtree(staging, ignore_errors=True)
    log(f"{len(due_wall)} epochs landed, {len(reader.point_s)} reads, "
        f"backlog max {ph.backlog_max}, late max {ph.landing_late_max:.3f}s")
    return ph


def trickle_serve(ctx: Ctx) -> Result:
    return _run(ctx, "trickle", dict(TRICKLE, n_epochs=_trickle_epochs(ctx.seconds)),
                _trickle_warm_up, _trickle_phase)


WORKLOADS = {"backlog_replay": backlog_replay, "trickle_serve": trickle_serve}
