"""Pins for the benchmark itself: deterministic inputs, the config_compile
shape caps, and the printed metric names and units.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen, oracle, run  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_same_seed_same_inputs():
    assert gen.cc_rows(5) == gen.cc_rows(5)
    assert gen.cc_rows(5) != gen.cc_rows(6)
    assert gen.cc_configs(5, 20) == gen.cc_configs(5, 20)
    assert gen.cc_configs(5, 20) != gen.cc_configs(6, 20)
    assert gen.corpus(5, 300) == gen.corpus(5, 300)
    assert gen.corpus(5, 300) != gen.corpus(6, 300)


def test_cdc_stream_is_seeded_and_replays_after_reset():
    a, b = gen.CdcStream(5, 800), gen.CdcStream(5, 800)
    assert a.rows == b.rows
    live = oracle.CdcModel(a.rows).live
    first = [a.batch(live), a.delete_keys(live)]
    assert first == [b.batch(live), b.delete_keys(live)]
    a.reset()
    assert [a.batch(live), a.delete_keys(live)] == first
    assert gen.CdcStream(6, 800).rows != a.rows


def test_config_compile_shapes_stay_at_the_caps():
    caps = gen.CC_CAPS
    shapes = gen.CC_SHAPES
    assert (min(s.roots for s in shapes), max(s.roots for s in shapes)) == caps["roots"]
    siblings = [s.members for s in shapes] + [s.leaves for s in shapes]
    assert (min(siblings), max(siblings)) == caps["siblings"]
    assert (min(s.paths for s in shapes), max(s.paths for s in shapes)) == caps["paths"]
    # the doubling: touched leaves 2 -> 3 -> 4 under two plain struct members
    assert {s.leaves for s in shapes if s.structs == 2} >= {2, 3, 4}
    for i, cfg in enumerate(gen.cc_configs(9, 2 * len(shapes))):
        shape = shapes[i % len(shapes)]
        assert len(cfg) == shape.paths
        assert len({p.split(".")[0] for p in cfg}) == shape.roots
    why = next(w["why"] for w in BENCH["workloads"] if w["name"] == "config_compile")
    for key in ("roots", "siblings", "paths"):
        lo, hi = caps[key]
        assert f"{lo}-{hi} {key}" in why


def test_output_names_every_metric_with_its_unit():
    e2e = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert run.E2E_UNITS == e2e
    assert run.PER_LAYER_UNITS == per_layer
    assert {w["name"] for w in BENCH["workloads"]} == set(WORKLOADS)
    for units in (e2e, per_layer):
        out = json.loads(run.result_line(True, 3, 0, {}, units))
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert {k: v["unit"] for k, v in out["metrics"].items()} == units
        assert all(isinstance(v["value"], float) for v in out["metrics"].values())


def test_oracle_matches_spark_semantics_on_edge_cases():
    assert oracle.field_fn("initcap")("hELLO wORLD") == "Hello World"
    assert oracle.field_fn("trim")("  ab ") == "ab"
    assert oracle.field_fn({"fn": "lpad", "args": [5, "*"]})("ab") == "***ab"
    assert oracle.field_fn({"fn": "lpad", "args": [2, "*"]})("abcd") == "ab"
    assert oracle.field_fn({"fn": "pmod", "args": [97]})(-5) == 92
    row = {"id": 1, "m": [("a", {"x": "q"})], "arr": [{"x": "p"}, {"x": "r"}]}
    out = oracle.transform_row(row, {"m.x": "upper", "arr.x": "upper"})
    assert out == {"id": 1, "m": [("a", {"x": "Q"})], "arr": [{"x": "P"}, {"x": "R"}]}
    assert row["m"] == [("a", {"x": "q"})]
    assert oracle.shingles("a b c") == {"a b c"}
    assert oracle.jaccard("a b c d e f", "a b c d e f") == 1.0
