"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _bench() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_same_seed_same_corpus(tmp_path):
    spec = gen.Spec(docs=300, zipf=True)
    a = gen.generate(str(tmp_path / "a"), 7, spec)
    b = gen.generate(str(tmp_path / "b"), 7, spec)
    c = gen.generate(str(tmp_path / "c"), 8, spec)
    assert a["documents_sha256"] == b["documents_sha256"]
    assert a["documents_sha256"] != c["documents_sha256"]
    for name in a["rows"]:
        assert (tmp_path / "a" / f"{name}.parquet").read_bytes() == (
            tmp_path / "b" / f"{name}.parquet"
        ).read_bytes()


def test_screening_corpus_shape(tmp_path):
    spec = run.workloads()["screening-zipf"].spec
    stats = gen.generate(str(tmp_path), 1, spec)["corpus"]
    assert stats["vocab"] >= 50_000
    assert 0.05 <= stats["positive_share"] <= 0.10


def test_metric_names_and_units_match_the_runner():
    b = _bench()
    e2e = {m["name"]: m["unit"] for m in b["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in b["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    assert [w["name"] for w in b["workloads"]] == list(run.workloads())
    for name in [*e2e, *layers, *(w["name"] for w in b["workloads"])]:
        assert NAME.fullmatch(name), name


def test_no_percentile_metrics():
    # A screening run makes 8 to 10 timed calls in all: too few for any
    # percentile with ten samples beyond it, so only medians (pass_s)
    # and single measurements (setup_s) are reported.
    for name in [*run.END_TO_END, *run.PER_LAYER]:
        assert not re.search(r"(^|_)p\d+(_|$)", name), name
