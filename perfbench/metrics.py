"""Metric catalogue, read from ``BENCHMARK.json`` at the checkout root
(names, units, directions and bounds), and the per-layer ratios derived
from summed span counters."""

from __future__ import annotations

import json
from pathlib import Path

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
WORKLOADS = tuple(w["name"] for w in SPEC["workloads"])
END_TO_END = SPEC["end_to_end"]
PER_LAYER = SPEC["per_layer"]


def derived(flat: dict[str, float], wall: float) -> dict[str, float]:
    """Per-layer ratios computed from summed span counters."""

    def ratio(num: str, den: str) -> float:
        d = flat.get(den, 0.0)
        return flat.get(num, 0.0) / d if d else 0.0

    up = "tables.upsert_table_from_records"
    qp = "tables.query_paginated"
    return {
        f"{up}.rows_rewritten_per_row_changed": ratio(f"{up}.rows_rewritten", f"{up}.rows_changed"),
        f"{qp}.first_page_pct": 100.0 * flat.get(f"{qp}.first_page_s", 0.0) / wall,
        f"{qp}.next_page_pct": 100.0 * flat.get(f"{qp}.next_page_s", 0.0) / wall,
        "txn.read.files_scanned_per_lookup": ratio("txn.read.eq_files_scanned", "txn.read.eq_lookups"),
        "txn.read.bloom_false_admit_ratio": ratio("txn.read.eq_false_admits", "txn.read.eq_candidates"),
        "views.refresh.base_files_scanned_ratio": ratio(
            "views.refresh.base_files_scanned", "views.refresh.base_files_total"
        ),
    }
