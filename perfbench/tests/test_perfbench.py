"""Tests of the benchmark itself (not of the program it measures).

Run from the repository root:

    python3 -m pytest perfbench/tests -q

Each Spark case starts its own benchmark process at ``--scale 0.1``
(about 30-90 s each on a 4-core machine).
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
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def bench(*args: str, cwd: str = ROOT) -> tuple[int, str, dict | None]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    result = None
    if lines and lines[-1].startswith("{"):
        result = json.loads(lines[-1])
    return proc.returncode, proc.stderr, result


def tiny(workload: str, *extra: str) -> dict:
    code, err, result = bench(
        "--workload", workload, "--seed", "11", "--seconds", "1", "--scale", "0.1", *extra
    )
    assert code == 0, err[-3000:]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return result


def test_benchmark_json_names_the_emitted_metrics():
    s = spec()
    assert {m["name"]: m["unit"] for m in s["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in s["per_layer"]} == layers.PER_LAYER
    assert {w["name"] for w in s["workloads"]} <= set(workloads.WORKLOADS)
    assert s["command"][1] == "perfbench/run.py" and s["paths"] == ["perfbench"]


def test_pair_references_match_the_registry_oracle():
    """The exact pair computations the dedup check uses agree with the
    DuckDB ``oracle_sql()`` of the registry rows on the same documents."""
    duckdb = pytest.importorskip("duckdb")
    import __spark_entry__

    pdf = workloads.synth_documents(seed=5, n_base=80, hot=10)
    texts = dict(zip(pdf["doc_id"].tolist(), pdf["text"].tolist()))
    oracles = __spark_entry__.oracle_sql()
    with duckdb.connect() as con:
        con.register("documents", pdf)
        for query, columns, rows in (
            ("doc_minhash_pairs", ["doc_a", "doc_b", "jac"], workloads.minhash_pairs_reference(texts)),
            ("doc_simhash_pairs", ["doc_a", "doc_b", "hamming"], workloads.simhash_pairs_reference(texts)),
        ):
            rel = con.sql(oracles[query])
            assert rows, query
            assert workloads._norm_rows(columns, rows) == workloads._norm_rows(
                rel.columns, rel.fetchall()
            ), query


@pytest.mark.parametrize("workload", ["crawl", "extract", "dedup"])
def test_smoke_emits_every_end_to_end_metric(workload):
    result = tiny(workload)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_smoke_emits_every_per_layer_metric():
    result = tiny("dedup", "--trace", "1")
    assert result["correct"] and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == layers.PER_LAYER


@pytest.mark.parametrize(
    "workload,plant",
    [
        ("crawl", "crawl-wave-count"),
        ("extract", "extract-cell"),
        ("dedup", "dedup-drop-pair"),
    ],
)
def test_planted_wrong_output_counts_as_failed(workload, plant):
    result = tiny(workload, "--plant", plant)
    assert not result["correct"]
    assert result["failed"] >= 1 and result["failed"] / result["attempted"] > 0


def test_fails_without_the_program(tmp_path):
    """A directory holding only BENCHMARK.json and the benchmark: exit
    non-zero and print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__")
    )
    code, _, result = bench(
        "--workload", "crawl", "--seed", "1", "--seconds", "1", cwd=str(tmp_path)
    )
    assert code != 0 and result is None
