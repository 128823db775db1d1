"""Self-tests of the benchmark: generators, metric names, spans, smoke passes.

Run from the repository root:  python3 -m pytest perfbench/tests -q
The smoke tests start Spark and take a few minutes in all.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH]

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from spans import Tracer, spans_nest  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

GENERATORS = {
    "planted": lambda seed: gen.planted_pages(60, seed, hot_rows=20).pages,
    "recrawled": lambda seed: gen.planted_pages(60, seed, recrawl_frac=0.2).pages,
    "dense": lambda seed: gen.dense_pages(300, seed).pages,
}


def _parquet_bytes(df, path) -> bytes:
    gen.write_parquet(df, path)
    with open(path, "rb") as fh:
        return fh.read()


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_same_seed_same_bytes(name, tmp_path):
    a, b = GENERATORS[name](5), GENERATORS[name](5)
    assert gen.content_hash(a) == gen.content_hash(b)
    assert _parquet_bytes(a, tmp_path / "a.parquet") == _parquet_bytes(b, tmp_path / "b.parquet")


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_other_seed_other_bytes_same_shape(name, tmp_path):
    a, b = GENERATORS[name](5), GENERATORS[name](6)
    assert gen.content_hash(a) != gen.content_hash(b)
    assert _parquet_bytes(a, tmp_path / "a.parquet") != _parquet_bytes(b, tmp_path / "b.parquet")
    assert list(a.dtypes.items()) == list(b.dtypes.items())
    assert abs(len(a) - len(b)) <= 0.25 * len(a)
    ta, tb = (x["text"].str.split("\n").str[0].str.len().mean() for x in (a, b))
    assert abs(ta - tb) <= 0.15 * ta


def test_generated_text_is_the_pinned_extraction():
    sys.path.insert(0, ROOT)
    from entity_resolution_spark.functions.text import extract_text_py

    pages = gen.planted_pages(30, 1, hot_rows=5, recrawl_frac=0.3).pages
    assert all(extract_text_py(h) == t for h, t in zip(pages["html"], pages["text"]))


def test_dense_components_are_first_title_words():
    c = gen.dense_pages(240, 7)
    titles = [(u, t.split("\n")[0]) for u, t in zip(c.pages["url"], c.pages["text"])]
    part, _, _ = oracle.resolve(titles, 1000)
    assert part == oracle.partition(c.truth["url"], c.truth["entity_id"])


def test_metric_names_match_benchmark_json():
    e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert e2e == run.END_TO_END
    units = run.all_layer_units()
    assert [m["name"] for m in SPEC["per_layer"]] == run.PER_LAYER
    assert all(m["unit"] == units[m["name"]] for m in SPEC["per_layer"])
    listed = {w["name"] for w in SPEC["workloads"]}
    known = subprocess.check_output(
        [sys.executable, "-c", "import sys; sys.path[:0] = [%r, %r]; import workloads; "
         "print(' '.join(workloads.WORKLOADS))" % (ROOT, BENCH)],
        text=True,
    ).split()
    assert listed <= set(known)


def test_spans_nest():
    tr = Tracer(None, "t", 0.0)
    with tr.span("pass"):
        with tr.span("resolve"):
            with tr.span("text"):
                pass
            with tr.span("blocking"):
                pass
        with tr.span("klsh"):
            pass
    assert [s["parent"] for s in tr.spans] == [None, 0, 1, 1, 0]
    assert spans_nest(tr.spans)
    broken = [dict(s) for s in tr.spans]
    broken[2]["end"] = broken[1]["end"] + 1.0
    assert not spans_nest(broken)


def test_oracle_union_find_and_pair_counts():
    labels = oracle.union_find([1, 2, 3, 4, 5], [(2, 3), (3, 1), (5, 4)])
    assert labels == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}
    truth = {1: "a", 2: "a", 3: "b", 4: "b", 5: "b"}
    # predicted pairs (1,2) (1,3) (2,3) (4,5); true pairs (1,2) (3,4) (3,5) (4,5)
    assert oracle.pair_counts(labels, truth) == (2, 2, 2)


def test_missing_package_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "results"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "planted_er", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def _smoke(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace), "--scale", "0.3"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(BENCH, "results", f"{workload}-seed3-trace{trace}.json")) as fh:
        return last, json.load(fh)


@pytest.mark.parametrize(
    "workload,trace", [("planted_er", 1), ("dense_blocks", 0), ("incremental_er", 1)]
)
def test_smoke_pass_checks_and_names(workload, trace):
    last, detail = _smoke(workload, trace)
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    names = [m["name"] for m in SPEC["per_layer" if trace else "end_to_end"]]
    assert list(last["metrics"]) == names
    assert len(json.dumps(last, separators=(",", ":"))) < 2000
    if trace:
        assert detail["spans_nest"]
        assert {s["name"] for s in detail["spans"]} >= {"pass"}
        assert detail["layers"]["trace.layer_wall_sum_s"] <= detail["layers"]["trace.pass_s"]
        layers = detail["layers"]
        assert layers["pairs.pair_rows"] == layers["blocking.predicted_pair_rows"]
