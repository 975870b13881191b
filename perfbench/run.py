"""The repo benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload etl_lake --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Builds the engine session on
``build_session`` defaults (only the driver heap and Spark's scratch
directory are set), generates the workload's inputs from ``--seed``,
sets up, measures for ``--seconds``, checks every output against a
replay of the generated inputs, and prints the metrics. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-module metrics with ``--trace 1`` (spans also go to
``perfbench/out/``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent

from harness import (  # noqa: E402
    Run,
    RssSampler,
    Tracer,
    cpu_ticks,
    gc_seconds,
    machine_info,
    p50,
    session_setup,
    storage_location,
    tail,
)
from metrics import END_TO_END, PER_LAYER, WORKLOADS, derived  # noqa: E402


def _args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _stop_jvm(spark) -> None:
    """Stop the session and the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def layer_metrics(
    run: Run, res: dict, t0: float, t1: float, jobs: tuple, peak_mb: float, gc_s: float
) -> dict[str, float]:
    """Flatten the trace into ``<span>.<measure>`` names: ``self_pct``
    (self time as % of the timed phase's wall time), ``calls``,
    ``jobs``/``tasks``/``failed_tasks`` and every span counter."""
    wall = t1 - t0
    tr = run.tracer
    out: dict[str, float] = {}
    for name, agg in tr.summary(t0, t1).items():
        out[f"{name}.self_pct"] = 100.0 * agg["self_s"] / wall
        for k, v in agg.items():
            if k not in ("self_s", "wall_s"):
                out[f"{name}.{k}"] = v
    out.update(derived(out, wall))
    n_jobs, n_tasks, n_failed = jobs
    out.update(
        {
            "session.build_s": run.setup["session.build_s"],
            "session.warmup_s": run.setup["session.warmup_s"],
            "spark.jobs": n_jobs,
            "spark.tasks": n_tasks,
            "spark.failed_tasks": n_failed,
            "trace.hook_pct": 100.0 * tr.hook_s / wall,
            "trace.top_level_cover_pct": 100.0 * tr.top_level_cover(t0, t1),
            "trace.rows_per_s": res["rows"] / res.get("busy_s", wall),
            "process.peak_rss_mb": peak_mb,
            "jvm.gc_pct": 100.0 * gc_s / wall,
        }
    )
    out.update(res.get("layer", {}))
    return out


def main(argv: list[str]) -> int:
    a = _args(argv)
    # a terminated run still stops its JVM and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, str(CHECKOUT))
    try:
        import gcpde_spark
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    if not Path(gcpde_spark.__file__).resolve().is_relative_to(CHECKOUT):
        print(f"gcpde_spark is not this checkout's: {gcpde_spark.__file__}", file=sys.stderr)
        return 2
    wl = importlib.import_module(f"workloads.{a.workload}")

    runs_dir = CHECKOUT / ".perfbench_runs"
    runs_dir.mkdir(exist_ok=True)
    root = Path(tempfile.mkdtemp(prefix=f"{a.workload}-{a.seed}-", dir=runs_dir))
    (root / "tmp").mkdir()
    os.environ["TMPDIR"] = str(root / "tmp")
    os.environ["GCPDE_SPARK_WAREHOUSE"] = str(root / "warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={root / 'tmp'}"
    tempfile.tempdir = None

    run = Run(a.seed, root, Tracer(bool(a.trace)))
    rss = RssSampler().start()
    st = None
    try:
        g0 = time.perf_counter()
        inp = wl.generate(a.seed)
        gen_s = time.perf_counter() - g0
        session_setup(run)
        p0 = time.perf_counter()
        st = wl.prepare(run, inp)
        w0 = time.perf_counter()
        wl.warmup(st)
        warm_cycle_s = time.perf_counter() - w0
        setup_s = run.setup["session.build_s"] + run.setup["session.warmup_s"] + warm_cycle_s

        job0 = run.tracer.next_job() if a.trace else 0
        gc0 = gc_seconds(run.spark)
        cpu0 = cpu_ticks()
        t0 = time.perf_counter()
        wl.measure(st, t0 + a.seconds)
        t1 = time.perf_counter()
        gc_s = gc_seconds(run.spark) - gc0
        steal, ticks = (b - a for a, b in zip(cpu0, cpu_ticks()))
        jobs = run.tracer.job_counts(job0, run.tracer.next_job(), any_group=True) if a.trace else None
        space = wl.verify(st)
        res = wl.result(st)
        v1 = time.perf_counter()
        info = machine_info(run.spark)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if run.spark is not None:
            try:
                if st is not None and hasattr(wl, "close"):
                    wl.close(st)
            finally:
                _stop_jvm(run.spark)
        peak_mb = rss.stop()
        shutil.rmtree(root, ignore_errors=True)
    phases = {
        "generate": gen_s,
        "session": p0 - g0 - gen_s,
        "prepare": w0 - p0,
        "warm-up": warm_cycle_s,
        "timed": t1 - t0,
        "verify": v1 - t1,
        "stop": time.perf_counter() - v1,
    }

    wall = t1 - t0
    busy = res.get("busy_s", wall)
    e2e = {
        "setup_s": setup_s,
        "rows_per_s": res["rows"] / busy,
        "write_p50_s": p50(res["write_lat"]),
        "read_p50_s": p50(res["read_lat"]),
        "write_amp": res["bytes_written"] / res["input_bytes"],
        "space_amp": space["disk_bytes"] / space["logical_bytes"],
    }
    units = {m["name"]: m["unit"] for m in END_TO_END + PER_LAYER}

    print(f"# workload {a.workload} seed {a.seed} trace {a.trace}")
    print(f"# machine {json.dumps(info)}")
    print(f"# storage {storage_location(root)}")
    print(f"# inputs {json.dumps(inp.props)} (generated in {gen_s:.2f} s, untimed)")
    print(
        f"# setup: session launch {run.setup['session.launch_s']:.3f} s, "
        f"build p50 {run.setup['session.build_s']:.3f} s, warm-up p50 "
        f"{run.setup['session.warmup_s']:.3f} s, warm-up cycle {warm_cycle_s:.3f} s"
    )
    print("# phases (s): " + ", ".join(f"{k} {v:.2f}" for k, v in phases.items()))
    print(f"# timed phase {wall:.3f} s, {res['rows']} {res['unit']}, busy {busy:.3f} s")
    for name, lat in (("write", res["write_lat"]), ("read", res["read_lat"])) + tuple(
        res.get("extra_lat", {}).items()
    ):
        v, pct, n = tail(lat)
        print(
            f"# {name} latency: p50 {p50(lat):.4f} s, tail p{pct:.0f} {v:.4f} s "
            f"(n={n}; tail needs n>=11)"
        )
    for k, v in res.get("info", {}).items():
        print(f"# {k}: {v}")
    print(f"# peak RSS {peak_mb:.1f} MB (driver + JVM + Python workers; not gated)")
    print(f"# CPU steal in the timed phase {100.0 * steal / max(ticks, 1):.1f} % (host contention; not gated)")
    print(f"# JVM GC time in the timed phase {gc_s:.3f} s ({100.0 * gc_s / wall:.1f} %)")
    print(f"# error_rate {run.checks.failed / max(run.checks.attempted, 1):.6f} "
          f"({run.checks.failed} of {run.checks.attempted} checked operations failed)")
    for msg in run.checks.messages[:20]:
        print(f"# FAILED CHECK: {msg}")
    for k, v in e2e.items():
        print(f"{k} {v:.6g} {units[k]}")

    if a.trace:
        layer = layer_metrics(run, res, t0, t1, jobs, peak_mb, gc_s)
        metrics = {m["name"]: layer.get(m["name"], 0.0) for m in PER_LAYER}
        run.tracer.dump(HERE / "out" / f"{a.workload}-seed{a.seed}.spans.jsonl")
        for k, v in metrics.items():
            print(f"{k} {v:.6g} {units[k]}")
    else:
        metrics = e2e
    bad = [k for k, v in metrics.items() if not math.isfinite(v)]
    if bad:
        print(f"non-finite metrics: {bad}", file=sys.stderr)
        return 1
    print(
        json.dumps(
            {
                "correct": run.checks.failed == 0,
                "attempted": run.checks.attempted,
                "failed": run.checks.failed,
                "metrics": {
                    k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
