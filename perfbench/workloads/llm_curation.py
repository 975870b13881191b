"""llm_curation — an incremental daily curation job over a JSONL lake.

Set-up lands seeded documents in day partitions (exact duplicates and
one-word-edit near-duplicates planted, some across days) and writes the
prior days' survivors as the ``curated`` dataset. Each timed pass takes
the next day through ``get_dataset_df(since=…)`` → ``curate_documents``
→ ``dedup_clusters`` → ``bloom_dedup_new`` (against prior survivors) →
``chunk_documents`` → ``pack_chunk_sequences`` →
``add_dataframe_to_dataset`` (survivors and packed sequences). Every
stage output is persisted and counted, in traced and untraced runs
alike, so stage spans do not change the plan. The timed phase is a
fixed amount of work: one pass, then five batches of ``ivf_topk``
queries over seeded clustered embeddings. At this size the pass alone
outlasts a 10 s ``--seconds``, which therefore does not change the
work. The session warm-up forks the Python worker pool, but plans are
compiled cold: a daily job pays that on every run.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import os
import random
import time
from dataclasses import dataclass, field

from harness import Run, bytes_new, bytes_on_disk, snapshot

DAYS = 7
FIRST_PASS_DAY = 4  # earlier days are history: their survivors are seeded
PASSES = 1
DOCS_PER_DAY = 600
EXACT_DUP = 0.2
NEAR_DUP = 0.1
CROSS_DAY = 0.3  # share of planted duplicates whose original is on an earlier day
DOC_TOKENS = (40, 90)
VOCAB = 3_000
CHUNK_TOKENS, CHUNK_OVERLAP, CHUNKS_PER_SEQ = 32, 8, 8
N_VECS, DIM, CLUSTERS = 10_000, 64, 24
QUERIES_PER_BATCH = 10
IVF_BATCHES = 5
N_CENTROIDS, NPROBE = 16, 4
RECALL_FLOOR = 0.8
PAIR_RECALL_FLOOR = 0.9
STOP = "the of and to in is that it for on with as was by at from this be are or an".split()


@dataclass
class Inputs:
    days: list[list[dict]]  # day d's docs (doc_id, text)
    exact: list[tuple[int, int]]  # (original id, duplicate id)
    near: list[tuple[int, int]]  # (original id, one-word-edit id)
    vectors: object  # float32 [N_VECS, DIM]
    queries: object  # float32 [n, DIM]
    props: dict = field(default_factory=dict)


def generate(seed: int) -> Inputs:
    import numpy as np

    rng = random.Random(seed)
    words = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 9)))
        for _ in range(VOCAB)
    ]

    def text() -> str:
        n = rng.randint(*DOC_TOKENS)
        return " ".join(rng.choice(STOP) if rng.random() < 0.35 else rng.choice(words) for _ in range(n))

    days: list[list[dict]] = [[] for _ in range(DAYS)]
    exact, near = [], []
    next_id = 1
    by_day_orig: list[list[dict]] = [[] for _ in range(DAYS)]
    for d in range(DAYS):
        for _ in range(DOCS_PER_DAY):
            x = rng.random()
            src_day = d
            if x < EXACT_DUP + NEAR_DUP and (by_day_orig[d] or d > 0):
                if d > 0 and (rng.random() < CROSS_DAY or not by_day_orig[d]):
                    src_day = rng.randrange(d)
                orig = rng.choice(by_day_orig[src_day])
                if x < EXACT_DUP:
                    doc = {"doc_id": next_id, "text": orig["text"]}
                    exact.append((orig["doc_id"], next_id))
                else:
                    toks = orig["text"].split(" ")
                    toks[rng.randrange(len(toks))] = rng.choice(words)
                    doc = {"doc_id": next_id, "text": " ".join(toks)}
                    near.append((orig["doc_id"], next_id))
            else:
                doc = {"doc_id": next_id, "text": text()}
                by_day_orig[d].append(doc)
            days[d].append(doc)
            next_id += 1
    nrng = np.random.default_rng(seed)
    centers = nrng.normal(size=(CLUSTERS, DIM)).astype("float32")
    vectors = centers[nrng.integers(0, CLUSTERS, N_VECS)] + 0.35 * nrng.normal(
        size=(N_VECS, DIM)
    ).astype("float32")
    queries = centers[nrng.integers(0, CLUSTERS, 400)] + 0.35 * nrng.normal(
        size=(400, DIM)
    ).astype("float32")
    n_docs = DAYS * DOCS_PER_DAY
    texts = [doc["text"] for day in days for doc in day]
    props = {
        "days": DAYS,
        "docs": n_docs,
        "exact_dup_fraction": round(len(exact) / n_docs, 4),
        "near_dup_fraction": round(len(near) / n_docs, 4),
        "rows_per_distinct_text": round(n_docs / len(set(texts)), 4),
        "day_json_bytes": sum(len(json.dumps(x)) + 1 for x in days[-1]),
        "vectors": [N_VECS, DIM],
        "vector_clusters": CLUSTERS,
    }
    return Inputs(days, exact, near, vectors, queries.astype("float32"), props)


def _part(d: int):
    from gcpde_spark.datasets import DateTimePartitions

    return DateTimePartitions(2024, 1, 1 + d, 0)


class State:
    def __init__(self, run: Run, inp: Inputs):
        from gcpde_spark import Engine

        self.run = run
        self.inp = inp
        self.engine = Engine(run.spark, warehouse_dir=str(run.root / "warehouse"))
        self.lake = self.engine.datasets(str(run.root / "lake"))
        self.day = 0
        self.write_lat: list[float] = []
        self.read_lat: list[float] = []
        self.passes: list[dict] = []
        self.topk: list[tuple] = []
        self.rows = 0
        self.busy = 0.0
        self.input_bytes = 0
        self.bytes_written = 0
        self.roots = (run.root / "lake",)
        self._snap = snapshot(*self.roots)

    def written(self) -> int:
        snap = snapshot(*self.roots)
        n = bytes_new(self._snap, snap)
        self._snap = snap
        self.bytes_written += n
        return n


def _exact_survivors(docs: list[dict], seen: set[str]) -> list[dict]:
    out = []
    for doc in sorted(docs, key=lambda x: x["doc_id"]):
        if doc["text"] not in seen:
            seen.add(doc["text"])
            out.append(doc)
    return out


def _round4(x: float) -> float:
    """Spark's ``round(x * 10000) / 10000`` on a double: half-up on the
    shortest decimal form of the scaled value."""
    return float(decimal.Decimal(repr(x * 10000)).quantize(decimal.Decimal(1), decimal.ROUND_HALF_UP)) / 10000


def _passes_gates(text: str) -> bool:
    """Replay of ``curate_documents``' default gates on an already
    normalized text: at least 20 tokens, quality score at least 0.5, and
    English as the language whose function words hit most tokens (ties go
    to the last language code)."""
    from gcpde_spark.llm.text import STOPWORDS

    toks = text.split(" ")
    n = len(toks)
    hits = {lg: sum(t in ws for t in toks) for lg, ws in STOPWORDS.items()}
    punct_ratio = _round4(sum(not (ch.isalnum() or ch.isspace()) for ch in text) / len(text))
    stop_ratio = _round4(hits["en"] / n)
    quality = _round4(
        min(n / 100.0, 1.0) * 0.4 + (1.0 - min(punct_ratio * 10.0, 1.0)) * 0.3 + min(stop_ratio * 5.0, 1.0) * 0.3
    )
    best_hits, best_lang = max((h, lg) for lg, h in hits.items())
    return n >= 20 and quality >= 0.5 and best_hits > 0 and best_lang == "en"


def prepare(run: Run, inp: Inputs) -> State:
    """Land every day's docs in the lake; prior days' survivors become
    the ``curated`` dataset (the output of earlier daily runs); the
    embeddings are cached in memory."""
    import pandas as pd

    st = State(run, inp)
    for d in range(FIRST_PASS_DAY):
        st.lake.add_records_to_dataset(
            [json.dumps(x) for x in inp.days[d]], "docs", datetime_partition=_part(d)
        )
    seen: set[str] = set()
    hist = [x for d in range(FIRST_PASS_DAY) for x in _exact_survivors(inp.days[d], seen)]
    st.lake.add_records_to_dataset([json.dumps(x) for x in hist], "curated", datetime_partition=_part(0))
    st.seen = seen
    st.day = FIRST_PASS_DAY
    spark = run.spark
    pdf = pd.DataFrame({"vec_id": range(N_VECS), "embedding": list(inp.vectors.astype("float64"))})
    st.vecs = spark.createDataFrame(pdf).persist()
    st.vecs.count()
    st.written()
    return st


def _land(st: State, d: int) -> None:
    """Day ``d``'s docs arrive: one JSONL file at the dataset path
    contract, written with plain Python (temp file + rename)."""
    from gcpde_spark.datasets import build_file_name, build_partition_path

    part = st.run.root / "lake" / build_partition_path("docs", "1", _part(d))
    part.mkdir(parents=True, exist_ok=True)
    tmp = st.run.root / f".landing-{d}.jsonl"
    tmp.write_text("\n".join(json.dumps(x) for x in st.inp.days[d]))
    os.rename(tmp, part / build_file_name("docs", _part(d)))


def _stage(st: State, name: str, fn, holder: list):
    """Run one stage, persist and count its output."""
    with st.run.tracer.span(name) as sp:
        df = fn().persist()
        n = df.count()
    holder.append(df)
    return df, n, sp


def _pass(st: State) -> dict:
    """Curate day ``st.day`` end to end; returns the pass receipt."""
    from gcpde_spark.llm.curation import pack_chunk_sequences
    from gcpde_spark.llm.dedup import bloom_dedup_new, dedup_clusters
    from gcpde_spark.llm.pipeline import curate_documents
    from gcpde_spark.llm.text import chunk_documents
    from pyspark.sql import functions as F

    d = st.day
    since = dt.date(2024, 1, 1 + d)
    held: list = []
    docs, n_in, _ = _stage(st, "datasets.get_dataset_df", lambda: st.lake.get_dataset_df("docs", since=since), held)
    cur, n_cur, sp = _stage(st, "llm.curate_documents", lambda: docs.join(curate_documents(docs).select("doc_id"), "doc_id", "left_semi"), held)
    sp.add("rows_in", n_in)
    sp.add("rows_out", n_cur)
    cl, _, _ = _stage(st, "llm.dedup_clusters", lambda: dedup_clusters(cur, "doc_id"), held)
    kept, n_kept, _ = _stage(st, "llm.dedup_clusters", lambda: cur.join(cl.where("keep").select("doc_id"), "doc_id", "left_semi"), held)
    old = st.lake.get_dataset_df("curated").select("doc_id", "text")
    new, n_new, sp = _stage(st, "llm.bloom_dedup_new", lambda: bloom_dedup_new(kept, old, exact=True), held)
    sp.add("dropped", n_kept - n_new)
    chunks, n_chunks, _ = _stage(
        st, "llm.chunk_documents",
        lambda: chunk_documents(new, chunk_tokens=CHUNK_TOKENS, overlap=CHUNK_OVERLAP), held,
    )
    packed, n_packed, _ = _stage(
        st, "llm.pack_chunk_sequences",
        lambda: pack_chunk_sequences(chunks, chunks_per_seq=CHUNKS_PER_SEQ), held,
    )
    with st.run.tracer.span("datasets.add_dataframe_to_dataset") as sp:
        st.lake.add_dataframe_to_dataset(new, "curated", datetime_partition=_part(d))
        st.lake.add_dataframe_to_dataset(
            packed.select("seq_id", "seq_slot", "doc_id", "chunk_id", "chunk_text"),
            "packed", datetime_partition=_part(d),
        )
    sp.add("bytes_written", st.written())
    st.day += 1
    return {"day": d, "n_in": n_in, "n_curated": n_cur, "n_kept": n_kept, "n_chunks": n_chunks,
            "n_packed": n_packed, "cur": cur, "cl": cl, "new": new, "packed": packed, "held": held}


def _receipt(r: dict) -> dict:
    """Collect a pass's outputs for verification (after its timer) and
    release its persisted stages."""
    from pyspark.sql import functions as F

    r["curated"] = {x["doc_id"] for x in r.pop("cur").select("doc_id").collect()}
    r["clusters"] = {
        x["doc_id"]: (x["component"], x["keep"])
        for x in r.pop("cl").select("doc_id", "component", "keep").collect()
    }
    r["survivors"] = {x["doc_id"] for x in r.pop("new").select("doc_id").collect()}
    r["max_slot"] = r.pop("packed").agg(F.max("seq_slot")).first()[0]
    for df in r.pop("held"):
        df.unpersist()
    return r


def _topk_batch(st: State, b: int, centroids) -> None:
    import pandas as pd
    from gcpde_spark.llm.similarity import ivf_topk

    q = st.inp.queries[(b * QUERIES_PER_BATCH) % len(st.inp.queries):][:QUERIES_PER_BATCH]
    qdf = st.run.spark.createDataFrame(
        pd.DataFrame({"qid": range(len(q)), "qvec": list(q.astype("float64"))})
    )
    t0 = time.perf_counter()
    with st.run.tracer.span("llm.ivf_topk"):
        got = ivf_topk(st.vecs, qdf, k=10, n_centroids=N_CENTROIDS, nprobe=NPROBE, centroids=centroids).select("qid", "vec_id").collect()
    st.read_lat.append(time.perf_counter() - t0)
    st.topk.append((q, got))


def warmup(st: State) -> None:
    """Warm the session's Python worker pool only (one Arrow UDF job)."""
    st.run.spark.range(0, 4000, numPartitions=4).mapInArrow(lambda it: it, "id long").count()


def measure(st: State, deadline: float) -> None:
    """``PASSES`` daily passes, then the ``ivf_topk`` batches; the work
    is fixed, so ``deadline`` is not consulted."""
    from gcpde_spark.llm.similarity import train_ivf_centroids

    st.written()
    st.bytes_written = 0
    for _ in range(PASSES):
        _land(st, st.day)
        t0 = time.perf_counter()
        r = _pass(st)
        dt_ = time.perf_counter() - t0
        st.passes.append(_receipt(r))
        st.write_lat.append(dt_)
        st.busy += dt_
        st.rows += st.passes[-1]["n_in"]
        st.input_bytes += sum(len(json.dumps(x)) + 1 for x in st.inp.days[st.day - 1])
    with st.run.tracer.span("llm.train_ivf_centroids"):
        centroids = train_ivf_centroids(st.vecs, n_centroids=N_CENTROIDS)
    for b in range(IVF_BATCHES):
        _topk_batch(st, b, centroids)


def verify(st: State) -> dict:
    import numpy as np

    ck = st.run.checks
    day_of = {x["doc_id"]: d for d, docs in enumerate(st.inp.days) for x in docs}
    text_of = {x["doc_id"]: x["text"] for docs in st.inp.days for x in docs}
    # a planted duplicate belongs to its original's family
    family = {dup: orig for orig, dup in st.inp.exact + st.inp.near}
    seen = set(st.seen)
    for r in st.passes:
        d = r["day"]
        docs = sorted(st.inp.days[d], key=lambda x: x["doc_id"])
        first: dict[str, int] = {}
        rep = {x["doc_id"]: first.setdefault(x["text"], x["doc_id"]) for x in docs}
        ck.check(r["n_in"] == len(docs), f"day {d}: read {r['n_in']} docs")
        # curate_documents keeps the smallest id of every distinct text
        # that passes its gates
        curated = {i for t, i in first.items() if _passes_gates(t)}
        ck.check(
            r["curated"] == curated,
            f"day {d}: curate kept {len(r['curated'])} docs, not the {len(curated)} distinct texts that pass the gates",
        )
        # dedup_clusters: a row per curated doc; a cluster never spans two
        # planted families and keeps exactly its smallest id
        cl = r["clusters"]
        ck.check(set(cl) == r["curated"], f"day {d}: dedup_clusters covers {len(cl)} of {len(r['curated'])} docs")
        members: dict[int, list[int]] = {}
        for i, (comp, _) in cl.items():
            members.setdefault(comp, []).append(i)
        ck.check(
            all(len({family.get(i, i) for i in m}) == 1 for m in members.values()),
            f"day {d}: a cluster joins unrelated docs",
        )
        kept = {i for i, (_, keep) in cl.items() if keep}
        ck.check(
            kept == {min(m) for m in members.values()} and r["n_kept"] == len(kept),
            f"day {d}: clusters keep {r['n_kept']} docs, not one per cluster ({len(members)})",
        )
        # every planted same-day near-duplicate pair, through the curated
        # representative of each side's text, shares a cluster
        pairs = [(rep[a], rep[b]) for a, b in st.inp.near if day_of[a] == d and day_of[b] == d]
        pairs = [(a, b) for a, b in pairs if a in curated and b in curated]
        hit = sum(1 for a, b in pairs if a in cl and b in cl and cl[a][0] == cl[b][0])
        recall = hit / len(pairs) if pairs else 0.0
        r["pair_recall"] = recall
        ck.check(recall >= PAIR_RECALL_FLOOR, f"day {d}: planted near-dup recall {recall:.3f} over {len(pairs)} pairs")
        # bloom_dedup_new drops exactly the kept docs whose text an earlier
        # day's survivor has
        want = {i for i in kept if text_of[i] not in seen}
        ck.check(r["survivors"] == want, f"day {d}: bloom_dedup_new kept {len(r['survivors'])} docs, not {len(want)}")
        seen |= {text_of[i] for i in r["survivors"]}
        n_chunks = 0
        for i in r["survivors"]:
            n = len(text_of[i].split(" "))
            stride = CHUNK_TOKENS - CHUNK_OVERLAP
            n_chunks += 1 if n <= CHUNK_TOKENS else -(-(n - CHUNK_TOKENS) // stride) + 1
        ck.check(r["n_chunks"] == n_chunks, f"day {d}: {r['n_chunks']} chunks != {n_chunks}")
        ck.check(r["n_packed"] == r["n_chunks"] and r["max_slot"] < CHUNKS_PER_SEQ, f"day {d}: packing")
    out = st.lake.get_dataset_df("packed").count()
    ck.check(out == sum(r["n_packed"] for r in st.passes), f"packed dataset has {out} rows")
    # ivf recall@10 against exact cosine top-10
    v = st.inp.vectors / np.linalg.norm(st.inp.vectors, axis=1, keepdims=True)
    recalls = []
    for q, got in st.topk:
        qn = q / np.linalg.norm(q, axis=1, keepdims=True)
        exact = np.argsort(-(qn @ v.T), axis=1)[:, :10]
        ids: dict[int, set] = {}
        for row in got:
            ids.setdefault(row["qid"], set()).add(row["vec_id"])
        recalls.extend(len(ids.get(i, set()) & set(exact[i])) / 10 for i in range(len(q)))
    st.recall = float(np.mean(recalls))
    ck.check(st.recall >= RECALL_FLOOR, f"ivf recall@10 {st.recall:.3f} < {RECALL_FLOOR}")
    logical = sum(len(json.dumps(x)) + 1 for docs in st.inp.days for x in docs)
    return {"logical_bytes": logical, "disk_bytes": bytes_on_disk(*st.roots)}


def result(st: State) -> dict:
    pair = [r.get("pair_recall", 0.0) for r in st.passes]
    return {
        "rows": st.rows,
        "busy_s": st.busy,
        "write_lat": st.write_lat,
        "read_lat": st.read_lat,
        "input_bytes": st.input_bytes,
        "bytes_written": st.bytes_written,
        "unit": "docs curated (rows_per_s over daily-pass time)",
        "layer": {
            "llm.dedup_clusters.planted_pair_recall": sum(pair) / max(len(pair), 1),
            "llm.ivf_topk.recall_at_10": getattr(st, "recall", 0.0),
        },
        "info": {"passes": len(st.passes), "ivf_batches": len(st.topk)},
    }
