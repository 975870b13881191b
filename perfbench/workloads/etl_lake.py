"""etl_lake — the paper's own loop, closed-loop with one client.

Each cycle is one simulated day. It lands one JSONL file of user-state
records in the day's partition of the lake (``add_records_to_dataset``),
reads the latest partition back (``get_dataset_df``), upserts the
batch into an unpartitioned catalog table
(``upsert_table_from_records``: a full-table rewrite per call), runs
three interactive ``select`` calls and one 5-page ``query_paginated``
walk. The day ends with a ``sessionize`` rollup through
``replace_table_df``, a ``create_table_from_query`` summary, a Sheets
export + read-back and a ``list_files`` of the day.

The session is long-lived, so the timed days run on a settled JVM: the
warm-up first runs simulated days on scratch copies of the table, in
threads, until the JIT has settled, then one day on the table itself.

Every output is checked against a pure-Python replay of the batches.
"""

from __future__ import annotations

import bisect
import dataclasses
import datetime as dt
import json
import os
import random
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

from harness import Run, Tracer, bytes_new, bytes_on_disk, p50, rows_hash, snapshot

SEED_ROWS = 20_000
BATCH = 500
UPDATE_FRACTION = 0.3
ZIPF_S = 1.1
MAX_DAYS = 16
# A simulated day takes about 6 s on a fresh JVM and settles near 3.6 s
# after about seven days (4-core VM), as the JIT compiles the hot paths.
# The warm-up runs one day on each of SCRATCH_THREADS scratch copies of
# the table at once before the day on the table itself; the timed days
# then start within about 10 % of the settled time.
SCRATCH_THREADS = min(3, os.cpu_count() or 1)  # the main thread waits on them
PAGES = 5
PAGE_SIZE = 100
PAGE_QUERY = (
    "SELECT user_id, visits FROM {db}.users WHERE visits < 100 "
    f"ORDER BY user_id LIMIT {PAGES * PAGE_SIZE}"
)
SESSION_GAP_S = 1800
DAY0 = 1_704_067_200  # 2024-01-01T00:00:00Z
SUMMARY_SQL = (
    "SELECT visits % 10 AS bucket, count(*) AS users, sum(visits) AS visits "
    "FROM {db}.users GROUP BY visits % 10"
)
SUMMARY_COLS = ["bucket", "users", "visits"]


@dataclass
class Inputs:
    seed_rows: list[dict]
    batches: list[list[dict]]  # batch i lands on day i (day 0 = warm-up)
    table_rows: list[int]  # table cardinality after batch i
    props: dict = field(default_factory=dict)


def _record(rng: random.Random, uid: int, ts: int) -> dict:
    return {
        "user_id": uid,
        "name": f"user-{uid}-{rng.randrange(1000)}",
        "score": round(rng.random(), 6),
        "visits": rng.randrange(1000),
        "ts": ts,
    }


def generate(seed: int) -> Inputs:
    rng = random.Random(seed)
    seed_rows = [_record(rng, u, DAY0 - 86400) for u in range(SEED_ROWS)]
    # Zipf-ranked hot users over a seeded permutation of the seed keys
    hot = list(range(SEED_ROWS))
    rng.shuffle(hot)
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(SEED_ROWS)]
    cdf, acc = [], 0.0
    for w in weights:
        acc += w
        cdf.append(acc)
    next_id = SEED_ROWS
    batches = []
    n_cycles = 1 + MAX_DAYS
    updates = 0
    table_rows = []
    for c in range(n_cycles):
        base = DAY0 + c * 86400
        seen: set[int] = set()
        batch = []
        while len(batch) < BATCH:
            if rng.random() < UPDATE_FRACTION:
                uid = hot[bisect.bisect_left(cdf, rng.random() * acc)]
                if uid in seen:
                    continue
                updates += 1
            else:
                uid = next_id
                next_id += 1
            seen.add(uid)
            batch.append(_record(rng, uid, base + rng.randrange(3600)))
        batches.append(batch)
        table_rows.append(next_id)
    hot100 = set(hot[:100])
    top = sum(1 for b in batches for r in b if r["user_id"] in hot100)
    props = {
        "seed_rows": SEED_ROWS,
        "batch_records": BATCH,
        "batches_generated": n_cycles,
        "update_fraction": round(updates / (n_cycles * BATCH), 4),
        "zipf_s": ZIPF_S,
        "top100_key_share_of_updates": round(top / max(updates, 1), 4),
        "batch_json_bytes": sum(len(json.dumps(r)) + 1 for r in batches[1]),
    }
    return Inputs(seed_rows, batches, table_rows, props)


class State:
    def __init__(self, run: Run, inp: Inputs, db: str = "etl", root: Path | None = None):
        from gcpde_spark import Engine

        root = root or run.root
        self.run = run
        self.inp = inp
        self.db = db
        self.engine = Engine(run.spark, warehouse_dir=str(root / "warehouse"))
        self.lake = self.engine.datasets(str(root / "lake"))
        self.sheets = self.engine.sheets()
        self.cycle = 0
        self.log: list[tuple] = []  # (kind, cycle, result) for verification
        self.day_lat: list[float] = []
        self.write_lat: list[float] = []
        self.append_lat: list[float] = []
        self.read_lat: list[float] = []
        self.rows = 0
        self.input_bytes = 0
        self.bytes_written = 0
        self.day_files: list[str] = []
        self.roots = (root / "warehouse", root / "lake")
        self._snap = snapshot(*self.roots)

    def written(self) -> int:
        snap = snapshot(*self.roots)
        n = bytes_new(self._snap, snap)
        self._snap = snap
        self.bytes_written += n
        return n


def prepare(run: Run, inp: Inputs) -> State:
    st = State(run, inp)
    st.engine.tables.create_table_from_records(st.db, "users", inp.seed_rows)
    st.written()
    return st


def _timed(lat: list[float], fn):
    t0 = time.perf_counter()
    out = fn()
    lat.append(time.perf_counter() - t0)
    return out


def _cycle(st: State, timed: bool) -> None:
    from gcpde_spark.datasets import DateTimePartitions

    tr = st.run.tracer
    c = st.cycle
    batch = st.inp.batches[c]
    part = DateTimePartitions(2024, 1, 1 + c, 0)
    lines = [json.dumps(r) for r in batch]
    nbytes = sum(len(x) + 1 for x in lines)
    w_lat = st.write_lat if timed else []
    r_lat = st.read_lat if timed else []
    a_lat = st.append_lat if timed else []

    with tr.span("datasets.add_records_to_dataset") as sp:
        _timed(a_lat, lambda: st.lake.add_records_to_dataset(lines, "events", datetime_partition=part))
    sp.add("bytes_written", st.written())
    st.day_files.append(f"events__{part}.jsonl")

    with tr.span("datasets.get_dataset_df") as sp:
        df = st.lake.get_dataset_df("events", latest_partition_only=True)
        n_day = df.count()
        if tr.enabled:
            sp.add("files_scanned", len(df.inputFiles()))
    st.log.append(("day_rows", c, n_day))

    with tr.span("tables.upsert_table_from_records") as sp:
        _timed(w_lat, lambda: st.engine.tables.upsert_table_from_records(st.db, "users", batch, "user_id"))
    sp.add("bytes_written", st.written())
    sp.add("rows_changed", len(batch))
    sp.add("rows_rewritten", st.inp.table_rows[c])
    st.log.append(("upsert", c, None))

    with tr.span("tables.select"):
        agg = _timed(r_lat, lambda: st.engine.select(
            f"SELECT count(*) AS n, sum(visits) AS v FROM {st.db}.users"))
    key = batch[c % len(batch)]["user_id"]
    with tr.span("tables.select"):
        hit = _timed(r_lat, lambda: st.engine.select(
            f"SELECT * FROM {st.db}.users WHERE user_id = {key}"))
    with tr.span("tables.select"):
        top = _timed(r_lat, lambda: st.engine.select(
            f"SELECT user_id, score FROM {st.db}.users ORDER BY score DESC, user_id LIMIT 10"))
    st.log.append(("agg", c, agg))
    st.log.append(("lookup", c, (key, hit)))
    st.log.append(("top", c, top))

    pages, token = [], None
    with tr.span("tables.query_paginated") as sp:
        for p in range(PAGES):
            t0 = time.perf_counter()
            recs, token = st.engine.query_paginated(PAGE_QUERY.format(db=st.db), PAGE_SIZE, token)
            dt = time.perf_counter() - t0
            r_lat.append(dt)
            sp.add("first_page_s" if p == 0 else "next_page_s", dt)
            pages.extend(recs)
            if token is None:
                break
    st.written()
    st.log.append(("pages", c, pages))
    st.cycle += 1
    if timed:
        st.rows += len(batch)
        st.input_bytes += nbytes


def _day_end(st: State) -> None:
    from gcpde_spark.operators import sessionize
    from pyspark.sql import functions as F

    tr = st.run.tracer
    c = st.cycle - 1
    day_start_wall = st.day_wall_start
    with tr.span("operators.sessionize"):
        events = st.lake.get_dataset_df("events", latest_partition_only=True)
        rolled = (
            sessionize(events, by=("user_id",), ts_col="ts", gap_s=SESSION_GAP_S)
            .groupBy("user_id")
            .agg(F.max("session_id").alias("sessions"), F.count(F.lit(1)).alias("events"))
        )
    with tr.span("tables.replace_table_df"):
        st.engine.tables.replace_table_df(st.db, "sessions", rolled)
    with tr.span("tables.create_table_from_query"):
        st.engine.tables.create_table_from_query(SUMMARY_SQL.format(db=st.db), st.db, "summary")
    with tr.span("tables.select"):
        summary = st.engine.select(f"SELECT * FROM {st.db}.summary ORDER BY bucket")
    with tr.span("sheets.replace_or_create_from_records"):
        st.sheets.replace_or_create_from_records("perfbench", "summary", summary, SUMMARY_COLS)
    with tr.span("sheets.read_sheet"):
        back = st.sheets.read_sheet("perfbench", "summary")
    with tr.span("datasets.list_files") as sp:
        listed = st.lake.list_files("events/", updated_after=day_start_wall, recursive=True)
        sp.add("files_listed", len(listed))
    st.written()
    st.log.append(("day_end", c, (summary, back, sorted(p.rsplit("/", 1)[-1] for p in listed), list(st.day_files))))


def _day(st: State, timed: bool) -> None:
    st.day_wall_start = dt.datetime.now(dt.timezone.utc) - dt.timedelta(milliseconds=5)
    st.day_files = []
    _cycle(st, timed)
    _day_end(st)


def _scratch_day(st: State, source: str, errors: list) -> None:
    try:
        st.engine.tables.create_table_from_query(f"SELECT * FROM {source}.users", st.db, "users")
        _day(st, timed=False)
    except Exception as exc:  # re-raised by the main thread
        errors.append(exc)


def warmup(st: State) -> None:
    """Settle the JIT with one simulated day on each scratch copy of
    the table (own warehouse, lake and sheets; untraced, unchecked), in
    threads, then one untimed simulated day on the seeded table."""
    errors: list = []
    threads = []
    for i in range(SCRATCH_THREADS):
        run = dataclasses.replace(st.run, tracer=Tracer(False))
        scratch = State(run, st.inp, db=f"scratch{i}", root=st.run.root / f"scratch{i}")
        threads.append(threading.Thread(target=_scratch_day, args=(scratch, st.db, errors), name=f"scratch-{i}"))
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    _day(st, timed=False)


def measure(st: State, deadline: float) -> None:
    """Whole simulated days until ``deadline`` has passed."""
    st.written()
    st.bytes_written = 0
    while time.perf_counter() < deadline and st.cycle < len(st.inp.batches):
        _timed(st.day_lat, lambda: _day(st, timed=True))


# -- verification --------------------------------------------------------------


def _sessions(events: list[dict]) -> dict[int, tuple[int, int]]:
    by: dict[int, list[int]] = {}
    for r in events:
        by.setdefault(r["user_id"], []).append(r["ts"])
    out = {}
    for uid, ts in by.items():
        ts.sort()
        n = 1 + sum(1 for a, b in zip(ts, ts[1:]) if b - a > SESSION_GAP_S)
        out[uid] = (n, len(ts))
    return out


def verify(st: State) -> dict:
    ck = st.run.checks
    model = {r["user_id"]: r for r in st.inp.seed_rows}
    for kind, c, res in st.log:
        batch = st.inp.batches[c]
        if kind == "day_rows":
            ck.check(res == len(batch), f"cycle {c}: latest partition rows {res} != {len(batch)}")
        elif kind == "upsert":
            for r in batch:
                model[r["user_id"]] = r
        elif kind == "agg":
            want = (len(model), sum(r["visits"] for r in model.values()))
            got = (res[0]["n"], res[0]["v"])
            ck.check(got == want, f"cycle {c}: aggregate {got} != {want}")
        elif kind == "lookup":
            key, rows = res
            ck.check(len(rows) == 1 and rows[0] == model[key], f"cycle {c}: lookup {key}")
        elif kind == "top":
            want = sorted(model.values(), key=lambda r: (-r["score"], r["user_id"]))[:10]
            ck.check(
                [(r["user_id"], r["score"]) for r in res] == [(r["user_id"], r["score"]) for r in want],
                f"cycle {c}: top-10",
            )
        elif kind == "pages":
            want = sorted((r["user_id"], r["visits"]) for r in model.values() if r["visits"] < 100)
            want = want[: PAGES * PAGE_SIZE]
            ck.check([(r["user_id"], r["visits"]) for r in res] == want, f"cycle {c}: paginated walk")
        elif kind == "day_end":
            summary, back, listed, files = res
            want = {}
            for r in model.values():
                b = want.setdefault(r["visits"] % 10, [0, 0])
                b[0] += 1
                b[1] += r["visits"]
            ck.check(
                [(r["bucket"], r["users"], r["visits"]) for r in summary]
                == [(k, *want[k]) for k in sorted(want)],
                f"cycle {c}: CTAS summary",
            )
            ck.check(
                back == [{k: str(r[k]) for k in SUMMARY_COLS} for r in summary],
                f"cycle {c}: sheet round trip",
            )
            ck.check(listed == sorted(files), f"cycle {c}: list_files {listed} != {sorted(files)}")
            st.last_day_events = batch
    # final table: count + order-independent hash against the replay
    cols = ["user_id", "name", "score", "visits", "ts"]
    rows = st.engine.tables.table_df(st.db, "users").select(*cols).collect()
    ck.check(
        len(rows) == len(model)
        and rows_hash([tuple(r) for r in rows]) == rows_hash([tuple(m[k] for k in cols) for m in model.values()]),
        "final table != replay",
    )
    sess = st.engine.tables.table_df(st.db, "sessions").collect()
    want_sess = _sessions(st.last_day_events)
    ck.check(
        {r["user_id"]: (r["sessions"], r["events"]) for r in sess} == want_sess,
        "sessionize rollup != replay",
    )
    logical = sum(len(json.dumps(r)) + 1 for r in model.values())
    logical += sum(len(json.dumps(r)) + 1 for b in st.inp.batches[: st.cycle] for r in b)
    return {"logical_bytes": logical, "disk_bytes": bytes_on_disk(*st.roots), "table_rows": len(model)}


def result(st: State) -> dict:
    return {
        "rows": st.rows,
        # rows_per_s over the median day, so a host stall in one day does not count
        "busy_s": len(st.day_lat) * p50(st.day_lat),
        "write_lat": st.write_lat,
        "read_lat": st.read_lat,
        "extra_lat": {"append": st.append_lat},
        "input_bytes": st.input_bytes,
        "bytes_written": st.bytes_written,
        "unit": "records upserted",
    }
