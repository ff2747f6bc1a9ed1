"""Tests for the benchmark's own code; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import sys
from argparse import Namespace
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import run  # noqa: E402
from spans import Tracer  # noqa: E402


def _page_bytes(seed: int, day: int) -> bytes:
    return json.dumps(gen.brewery_pages(seed, day, 1000), ensure_ascii=False).encode()


def test_same_seed_same_pages_other_seed_other_pages():
    a = _page_bytes(7, 0)
    assert a == _page_bytes(7, 0)
    assert a != _page_bytes(8, 0)
    assert a != _page_bytes(7, 1)


def test_duplicate_ids_carry_identical_payloads():
    by_id: dict = {}
    dups = 0
    for page in gen.brewery_pages(3, 0, 5000):
        assert len(page) <= gen.PER_PAGE
        for rec in page:
            if rec["id"] in (None, "", "   "):
                continue
            if rec["id"] in by_id:
                dups += 1
                assert rec == by_id[rec["id"]]
            by_id[rec["id"]] = rec
    assert dups > 0


def test_every_dirty_class_occurs():
    recs = [r for p in gen.brewery_pages(5, 0, 5000) for r in p]
    assert any(r["name"] in ("", "   ") for r in recs)
    assert any(r["name"] and r["name"] != r["name"].strip() for r in recs)
    assert any(r["latitude"] == "abc" for r in recs)
    assert any(isinstance(r["latitude"], float) for r in recs)
    assert any("state_province" not in r for r in recs)
    assert not any(gen.NBSP in str(r.get("name")) for r in recs)
    probe = [r for p in gen.brewery_pages(5, 99, 2000, nbsp_share=0.05) for r in p]
    assert any(gen.NBSP in str(r.get("city")) for r in probe)


def test_tables_are_seed_deterministic(tmp_path):
    gen.write_tables(gen.tpch_tables(1, 0.001), tmp_path / "a")
    gen.write_tables(gen.tpch_tables(1, 0.001), tmp_path / "b")
    gen.write_tables(gen.tpch_tables(2, 0.001), tmp_path / "c")
    for f in (tmp_path / "a").iterdir():
        assert f.read_bytes() == (tmp_path / "b" / f.name).read_bytes()
    assert (tmp_path / "a" / "lineitem.parquet").read_bytes() != (tmp_path / "c" / "lineitem.parquet").read_bytes()


def test_tail_percentile_keeps_ten_samples_beyond():
    for n in range(1, 500):
        p = run.tail_percentile(n)
        if n < 11:
            assert p is None
            continue
        assert n - math.ceil(n * p / 100) >= 10
        assert p == 99 or n - math.ceil(n * (p + 1) / 100) < 10
    t = run.tail([float(x) for x in range(100)])
    assert (t["p"], t["n"], t["s"]) == (90, 100, 89.0)


def test_printed_metric_names_are_declared():
    declared = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    r = run.Run(Namespace(seed=1, trace=1, workload="queries", seconds=1))
    r.setup = {"session.get_spark_s": 1.0, "generate_s": 0.1, "warmup_s": 1.0}
    assert set(r.end_to_end()) == {m["name"] for m in declared["end_to_end"]}
    assert set(run.per_layer(r, Tracer())) == {m["name"] for m in declared["per_layer"]}
    assert {w["name"] for w in declared["workloads"]} == set(run.WORKLOADS)
