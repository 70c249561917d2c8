"""Metric names, units and directions, read from the checkout's
``BENCHMARK.json`` so the benchmark and its declaration cannot drift."""

from __future__ import annotations

import json
import os

SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def load() -> tuple[list[dict], list[dict]]:
    """(end-to-end metrics, per-layer metrics) as declared."""
    with open(SPEC_PATH) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]
