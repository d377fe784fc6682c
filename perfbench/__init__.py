"""Seeded end-to-end and per-layer benchmark for the log pipeline and
the token-curation jobs.  Entry point: ``python3 perfbench/run.py``."""

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def declared(section: str) -> list[tuple[str, str]]:
    """``(name, unit)`` of every metric ``BENCHMARK.json`` declares in
    ``section`` (``end_to_end`` or ``per_layer``), in declared order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[section]]
