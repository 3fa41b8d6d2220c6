"""Each workload declares the per-layer metrics it measures; together
they cover BENCHMARK.json's per-layer list, and none is outside it."""

from __future__ import annotations

import json
from pathlib import Path

from perfbench import etl_daily, query_mix, warehouse_api

SPEC = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
WORKLOADS = {"etl_daily": etl_daily, "query_mix": query_mix, "warehouse_api": warehouse_api}


def test_every_workload_is_declared():
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(WORKLOADS)


def test_declared_layers_cover_the_spec():
    spec = {m["name"] for m in SPEC["per_layer"]}
    declared = set()
    for name, mod in WORKLOADS.items():
        assert len(set(mod.LAYERS)) == len(mod.LAYERS), name
        assert set(mod.LAYERS) <= spec, (name, set(mod.LAYERS) - spec)
        declared |= set(mod.LAYERS)
    assert declared == spec
