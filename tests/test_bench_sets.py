"""The measurement harness: pinned EXT sets as checked data, and the
shape of the line a timed pass prints."""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

from scripts import bench_sets
from shippai_knowledge_etl_spark.catalog import load_catalog

REPO = Path(__file__).resolve().parent.parent


def _artifacts(set_name: str) -> list[Path]:
    n = set_name.removeprefix("ext")
    tag = "" if n == "1" else n
    return sorted(REPO.glob(f"EXTBENCH{tag}_r*.json"))


@pytest.mark.parametrize("set_name", sorted(bench_sets.PINNED_SETS))
def test_pinned_set_matches_its_artifacts(set_name):
    """A pinned tuple is append-never: every committed EXTBENCH artifact
    of the set timed exactly these names, in this order, under this
    metric."""
    metric, names = bench_sets.PINNED_SETS[set_name]
    paths = _artifacts(set_name)
    assert paths, f"{set_name}: no committed artifact"
    for p in paths:
        art = json.loads(p.read_text())
        assert art["metric"] == metric, p.name
        assert list(art["queries"]) == list(names), p.name


def test_every_artifact_has_a_pinned_set():
    sets = {
        "ext" + (m.group(1) or "1")
        for p in REPO.glob("EXTBENCH*_r*.json")
        if (m := re.match(r"EXTBENCH(\d*)_r", p.name))
    }
    assert sets == set(bench_sets.PINNED_SETS)


def test_pinned_names_are_catalog_queries():
    cat = load_catalog()
    ghosts = [
        n
        for _, names in bench_sets.PINNED_SETS.values()
        for n in names
        if n not in cat
    ]
    assert not ghosts, f"pinned names missing from the catalog: {ghosts}"


def test_timed_pass_line_shape(spark, sf_dir, monkeypatch):
    """After the shared warm-up, the line keeps the committed artifact
    format: the key set of EXTBENCH8_r13.json, per-query maps in the
    caller's order."""
    bench_sets.warm_up(spark, sf_dir, bench_sets.noop)
    monkeypatch.setattr(
        bench_sets,
        "contention_sentinel",
        lambda spark: {
            "sentinel_sec": 0.4,
            "sentinel_pin_sec": bench_sets.SENTINEL_PIN_SEC,
            "unstable": False,
        },
    )
    fns = {
        "zeta": lambda spark, sf_dir: spark.range(3),
        "alpha": lambda spark, sf_dir: spark.range(2),
    }
    res = bench_sets.timed_pass(fns, spark, "sf-test", bench_sets.collect)
    line = bench_sets.set_line("t_queries_total_sec", res, "sf-test")
    ref = json.loads((REPO / "EXTBENCH8_r13.json").read_text())
    assert list(line) == list(ref)
    for key in ("queries", "queries_warm", "queries_median"):
        assert list(line[key]) == ["zeta", "alpha"], key
    assert line["unstable"] is False
    assert line["value"] == round(sum(line["queries"].values()), 4)
