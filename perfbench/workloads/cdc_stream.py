"""cdc_stream — CDC change files arriving on a schedule, open-loop.

A generator thread writes one seeded JSONL change file every ``PERIOD``
seconds with plain Python writes (temp file + rename), so the offered
load does not depend on the code under test. ``read_dataset_stream`` →
``upsert_stream_to_txn_table`` (default settings) merges them into a
``TxnTable`` seeded with key-sorted files and a Bloom filter on ``uid``.
Beside the stream, two reader threads alternate bloom-pruned point reads
and ~1k-row key-range reads at pinned snapshot versions, and the main
thread periodically refreshes a ``MaterializedAggView`` (which commits
to the view's own table, so the stream's un-retried merge never meets a
rival commit).

Freshness is the time from a change file's creation to the commit that
makes its rows readable. Every read, the final snapshot and the view
are checked against a replay of the change files.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

from harness import Run, bytes_new, bytes_on_disk, rows_hash, snapshot, traced_commit_backend

SEED_ROWS = 20_000
SEED_FILES = 16
FILE_ROWS = 1_000
PERIOD = 2.0  # seconds between change files (offered load: 500 rows/s)
UPDATE = 0.7  # the rest are inserts
RECENT_WINDOW = 4_000  # updates hit the newest keys: max_id - RECENT_WINDOW * u ** 2
MAX_FILES = 400
READERS = 2
RANGE_ROWS = 1_000
READ_PERIOD = 1.0  # seconds between a reader's reads (open loop)
GROUPS = 50
REFRESH_PERIOD = 6.0  # seconds between view refreshes
DRAIN_TIMEOUT = 60.0
WARMUP_FILES = 2
COLS = ["id", "uid", "grp", "amount", "ts"]


@dataclass
class Inputs:
    seed_rows: list[tuple]
    files: list[list[tuple]]  # file k's rows; ts = k + 1 orders updates
    probe_uids: list[int]
    props: dict = field(default_factory=dict)


def generate(seed: int) -> Inputs:
    rng = random.Random(seed)
    uids = rng.sample(range(1, 1 << 40), SEED_ROWS + MAX_FILES * FILE_ROWS)

    def row(i: int, ts: int) -> tuple:
        return (i, uids[i], rng.randrange(GROUPS), rng.randrange(1_000_000), ts)

    seed_rows = [row(i, 0) for i in range(SEED_ROWS)]
    next_id = SEED_ROWS
    files = []
    n_upd = 0
    for k in range(MAX_FILES):
        rows: dict[int, tuple] = {}
        while len(rows) < FILE_ROWS:
            if rng.random() < UPDATE:
                i = next_id - 1 - int(RECENT_WINDOW * rng.random() ** 2)
                if i in rows:
                    continue
                n_upd += 1
            else:
                i = next_id
                next_id += 1
            rows[i] = row(i, k + 1)
        files.append(list(rows.values()))
    # point reads look up keys that exist from the start (seeded rows,
    # some of which the stream updates): a miss would skip the scan and
    # split read latency into two modes
    probe_uids = [uids[rng.randrange(SEED_ROWS)] for _ in range(4000)]
    props = {
        "seed_rows": SEED_ROWS,
        "seed_files": SEED_FILES,
        "file_rows": FILE_ROWS,
        "period_s": PERIOD,
        "offered_rows_per_s": FILE_ROWS / PERIOD,
        "update_fraction": round(n_upd / (MAX_FILES * FILE_ROWS), 4),
        "recent_window_keys": RECENT_WINDOW,
        "file_json_bytes": len(_jsonl(files[0])),
    }
    return Inputs(seed_rows, files, probe_uids, props)


def _jsonl(rows: list[tuple]) -> bytes:
    return "".join(json.dumps(dict(zip(COLS, r))) + "\n" for r in rows).encode()


class Generator(threading.Thread):
    """Writes change file k at ``t0 + k * PERIOD`` (temp file + rename)."""

    def __init__(self, st: "State", first: int, t0: float, deadline: float):
        super().__init__(name="generator", daemon=True)
        self.st, self.first, self.t0, self.deadline = st, first, t0, deadline
        self.created: dict[int, float] = {}
        self.lateness: list[float] = []

    def run(self) -> None:
        k = self.first
        while k < MAX_FILES:
            due = self.t0 + (k - self.first) * PERIOD
            if due >= self.deadline:
                return
            time.sleep(max(due - time.perf_counter(), 0.0))
            self.lateness.append(time.perf_counter() - due)
            self.st.emit(k)
            self.created[k] = time.perf_counter()
            k += 1


class State:
    def __init__(self, run: Run, inp: Inputs):
        self.run = run
        self.inp = inp
        self.lake = run.root / "lake"
        self.part = self.lake / "cdc" / "version=1" / "year=2024" / "month=1" / "day=1"
        self.staging = run.root / "staging"
        self.path = str(run.root / "txn" / "cdc")
        self.view_path = str(run.root / "txn" / "cdc_view")
        self.ckpt = str(run.root / "checkpoint")
        self.publishes: dict[int, tuple[float, int]] = {}  # version -> (t, max ts)
        self.applied = 0  # change files the latest commit makes readable
        self.reads: list[tuple] = []
        self.read_lat: list[float] = []
        self.emitted = 0
        self._snap: dict = {}
        self.roots = (run.root / "txn" / "cdc",)

    def emit(self, k: int) -> None:
        tmp = self.staging / f"cdc-{k:05d}.jsonl"
        tmp.write_bytes(_jsonl(self.inp.files[k]))
        os.rename(tmp, self.part / tmp.name)
        self.emitted = k + 1

    def on_publish(self, final: Path, payload: bytes, t: float) -> None:
        if Path(final).parent.parent != Path(self.path):
            return
        m = json.loads(payload)
        top = max(
            ((f.get("stats") or {}).get("ts") or [0, 0])[1] for f in m.get("files") or [{}]
        )
        self.publishes[int(m["version"])] = (t, int(top or 0))
        self.applied = max(self.applied, int(top or 0))

    def written(self) -> int:
        snap = snapshot(*self.roots)
        n = bytes_new(self._snap, snap)
        self._snap = snap
        return n


def _schema():
    from pyspark.sql.types import LongType, StructField, StructType

    return StructType([StructField(c, LongType(), False) for c in COLS])


def prepare(run: Run, inp: Inputs) -> State:
    from gcpde_spark import MaterializedAggView, TxnTable

    st = State(run, inp)
    st.part.mkdir(parents=True)
    st.staging.mkdir()
    spark = run.spark
    st.table = TxnTable.create(
        spark, st.path, spark.createDataFrame(inp.seed_rows, _schema()),
        key_field="id", n_files=SEED_FILES, bloom_cols=["uid"],
    )
    st.view = MaterializedAggView.create(
        spark, st.table, st.view_path, group_by=["grp"],
        aggs={"n": "count(1)", "total": "sum(amount)"},
    )
    st.prev_backend = traced_commit_backend(run.tracer, st.on_publish)
    st.written()
    return st


def close(st: State) -> None:
    from gcpde_spark.txn import set_commit_backend

    q = getattr(st, "query", None)
    if q is not None and q.isActive:
        q.stop()
    set_commit_backend(st.prev_backend)


def _wait_applied(st: State, n_files: int, timeout: float) -> bool:
    end = time.perf_counter() + timeout
    while st.applied < n_files:
        if time.perf_counter() > end or not st.query.isActive:
            return False
        time.sleep(0.02)
    return True


def _refresh_view(st: State) -> None:
    with st.run.tracer.span("views.refresh") as sp:
        r = st.view.refresh()
    for k in ("groups_refreshed", "base_files_scanned", "base_files_total"):
        sp.add(k, r.get(k, 0))
    st.view_version = r["base_version"]


def _reader(st: State, idx: int, stop: threading.Event, errors: list) -> None:
    """Open loop: read n is due at ``t0 + (n + idx / READERS) * READ_PERIOD``
    and its latency counts from then, so a stall also delays later reads."""
    tr = st.run.tracer
    tr.thread_group(f"reader-{idx}")
    rng = random.Random(st.run.seed * 31 + idx)
    n = 0
    try:
        while True:
            due = st.t0 + (n + idx / READERS) * READ_PERIOD
            if stop.wait(max(due - time.perf_counter(), 0.0)):
                return
            v = st.table.version()
            if n % 2 == 0:
                uid = st.inp.probe_uids[rng.randrange(len(st.inp.probe_uids))]
                with tr.span("txn.read") as sp:
                    df, scanned, total = st.table.read_with_receipt(version=v, eq={"uid": uid})
                    rows = [tuple(r) for r in df.select(*COLS).collect()]
                sp.add("eq_lookups", 1)
                sp.add("eq_files_scanned", scanned)
                sp.add("eq_false_admits", max(scanned - len(rows), 0))
                sp.add("eq_candidates", total - len(rows))
                st.reads.append((v, "eq", uid, rows))
            else:
                lo = rng.randrange(SEED_ROWS - RANGE_ROWS)
                with tr.span("txn.read"):
                    df = st.table.read(version=v, key_range=(lo, lo + RANGE_ROWS - 1))
                    rows = [tuple(r) for r in df.select(*COLS).collect()]
                st.reads.append((v, "range", lo, (len(rows), rows_hash(rows))))
            st.read_lat.append(time.perf_counter() - due)
            n += 1
    except Exception as exc:  # re-raised by the main thread
        errors.append(exc)


def warmup(st: State) -> None:
    """Start the stream and land ``WARMUP_FILES`` change files one at a
    time (the merge path is what the timed phase repeats), then one view
    refresh and one read of each kind."""
    from gcpde_spark.streaming import read_dataset_stream, upsert_stream_to_txn_table

    spark = st.run.spark
    st.emit(0)  # partition columns are inferred from the first file's path
    stream = read_dataset_stream(spark, str(st.lake), "cdc", _schema()).drop(
        "version", "year", "month", "day"
    )
    st.query = upsert_stream_to_txn_table(stream, st.path, "id", st.ckpt)
    for k in range(WARMUP_FILES):
        if k:
            st.emit(k)
        if not _wait_applied(st, k + 1, DRAIN_TIMEOUT):
            raise RuntimeError(f"warm-up change file not committed: {st.query.exception()}")
    _refresh_view(st)
    v = st.table.version()
    st.table.read(version=v, eq={"uid": st.inp.probe_uids[0]}).collect()
    st.table.read(version=v, key_range=(0, RANGE_ROWS)).collect()


def measure(st: State, deadline: float) -> None:
    """Open loop until ``deadline``, then drain the stream."""
    tr = st.run.tracer
    st.written()
    st.first = st.emitted
    tr.concurrent = True
    tr.thread_group("main")
    stop = threading.Event()
    errors: list = []
    t0 = time.perf_counter()
    st.t0, st.wall_t0 = t0, time.time()
    gen = Generator(st, st.first, t0, deadline)
    readers = [
        threading.Thread(target=_reader, args=(st, i, stop, errors), name=f"reader-{i}")
        for i in range(READERS)
    ]
    gen.start()
    for t in readers:
        t.start()
    try:
        next_refresh = t0 + REFRESH_PERIOD
        while time.perf_counter() < deadline and not errors and st.query.isActive:
            if time.perf_counter() >= next_refresh:
                _refresh_view(st)
                next_refresh += REFRESH_PERIOD
            time.sleep(0.05)
        gen.join(timeout=30)
        stop.set()
        st.backlog_end = st.emitted - st.applied
        st.t_end = time.perf_counter()
        st.drained = _wait_applied(st, st.emitted, DRAIN_TIMEOUT)
    finally:
        stop.set()
        for t in readers:
            t.join(timeout=120)
        tr.concurrent = False
    if errors:
        raise errors[0]
    if not st.query.isActive:
        raise RuntimeError(f"stream query died: {st.query.exception()}")
    st.gen = gen
    st.bytes_written = st.written()
    st.progress = [json.loads(p.json) for p in st.query.recentProgress]


def _replay(st: State):
    """Yield ``(version, model, by_uid)`` in version order."""
    model = {r[0]: r for r in st.inp.seed_rows}
    by_uid = {r[1]: r for r in st.inp.seed_rows}
    applied = 0
    for version in sorted(st.publishes):
        top = st.publishes[version][1]
        while applied < top:
            for r in st.inp.files[applied]:
                model[r[0]] = r
                by_uid[r[1]] = r
            applied += 1
        yield version, model, by_uid


def _aggregate(model: dict) -> dict:
    out: dict[int, list] = {}
    for r in model.values():
        g = out.setdefault(r[2], [0, 0])
        g[0] += 1
        g[1] += r[3]
    return {g: tuple(v) for g, v in out.items()}


def verify(st: State) -> dict:
    """Every read at its version; the view at the base version its last
    refresh reported; the final snapshot."""
    ck = st.run.checks
    ck.check(st.drained, f"stream did not drain {st.emitted} files within {DRAIN_TIMEOUT}s")
    reads: dict[int, list] = {}
    for rd in st.reads:
        reads.setdefault(rd[0], []).append(rd)
    view = {r["grp"]: (r["n"], r["total"]) for r in st.view.read().collect()}
    model: dict = {}
    view_checked = False
    for version, model, by_uid in _replay(st):
        for _v, kind, arg, got in reads.pop(version, []):
            if kind == "eq":
                want = [by_uid[arg]] if arg in by_uid else []
                ck.check(got == want, f"v{version}: eq read uid={arg}")
            else:
                want = [model[i] for i in range(arg, arg + RANGE_ROWS) if i in model]
                ck.check(got == (len(want), rows_hash(want)), f"v{version}: range read from {arg}")
        if version == st.view_version:
            view_checked = True
            ck.check(view == _aggregate(model), f"view at v{version} != recomputed aggregate")
    ck.check(view_checked, f"view base version v{st.view_version} is not among the commits")
    ck.check(not reads, f"reads at versions with no recorded commit: {sorted(reads)[:5]}")
    final = [tuple(r) for r in st.table.read().select(*COLS).collect()]
    ck.check(rows_hash(final) == rows_hash(list(model.values())), "final snapshot != replay")
    st.layout = st.table.layout_stats()
    logical = sum(len(json.dumps(dict(zip(COLS, r)))) + 1 for r in model.values())
    return {"logical_bytes": logical, "disk_bytes": bytes_on_disk(*st.roots)}


def result(st: State) -> dict:
    # freshness: file creation -> first commit whose rows include it
    commits = sorted((ts, t) for t, ts in st.publishes.values())
    fresh = []
    for k, created in st.gen.created.items():
        t_commit = min((t for ts, t in commits if ts >= k + 1), default=None)
        if t_commit is not None:
            fresh.append(t_commit - created)
    batches = [p for p in st.progress if p.get("numInputRows", 0) > 0 and _in_window(st, p)]
    busy = sum(p["durationMs"].get("triggerExecution", 0) for p in batches) / 1000.0
    add = sum(p["durationMs"].get("addBatch", 0) for p in batches) / 1000.0
    # numInputRows counts a row once per re-execution of the batch
    # DataFrame inside foreachBatch, so count the change files instead
    rows = FILE_ROWS * len(st.gen.created)
    wall = st.t_end - st.t0
    lat = st.gen.lateness
    return {
        "rows": rows,
        "busy_s": busy or wall,
        "write_lat": fresh,
        "read_lat": st.read_lat,
        "input_bytes": sum(len(_jsonl(st.inp.files[k])) for k in st.gen.created),
        "bytes_written": st.bytes_written,
        "unit": "change rows merged (rows_per_s over stream busy time)",
        "layer": {
            "streaming.batch.busy_pct": 100.0 * busy / wall,
            "streaming.batch.add_batch_pct": 100.0 * add / wall,
            "streaming.batch.rows": rows / max(len(batches), 1),
            "streaming.batches": len(batches),
            "streaming.backlog_files_end": st.backlog_end,
            "streaming.generator.lateness_pct": 100.0 * max(lat, default=0.0) / PERIOD,
            "txn.layout.n_files": st.layout["n_files"],
            "txn.layout.overlap_fraction": st.layout["overlap_fraction"],
        },
        "info": {
            "files_emitted_timed": len(st.gen.created),
            "batches": len(batches),
            "backlog_files_at_deadline": st.backlog_end,
            "generator_lateness_max_s": round(max(lat, default=0.0), 4),
            "reads": len(st.reads),
        },
    }


def _in_window(st: State, p: dict) -> bool:
    """Whether a progress event belongs to a batch that ran after the
    timed phase began (batches are stamped by their start time)."""
    from datetime import datetime

    ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return ts >= st.wall_t0

