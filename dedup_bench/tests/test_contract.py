"""BENCHMARK.json names exactly the metrics run.py reports."""

from __future__ import annotations

import json
import os

import run

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def test_per_layer_catalogue_matches():
    spec = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert spec == run.per_layer_units()


def test_end_to_end_names_match():
    names = [m["name"] for m in _spec()["end_to_end"]]
    assert names == list(run.END_TO_END)
    assert next(m for m in _spec()["end_to_end"] if m["name"] == "setup_s")["bound"] == max(
        m["bound"] for m in _spec()["end_to_end"]
    )
