"""Per-task Python floor: the zip-directory guard the package installs
(``parsel_spark._runtime``) and the bloom lineage hash computed on the
JVM (``bloom_update``)."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import numpy as np
import pytest

import parsel_spark  # noqa: F401  (installs the guard)
from parsel_spark.operators import frontier as fr
from parsel_spark.operators.bloom import BloomShard, CuckooShard

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GUARDED = sys.version_info < (3, 12)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch) -> None:
    invalidate = zipimport.zipimporter.invalidate_caches
    assert getattr(invalidate, "_parsel_spark_guard", False) is GUARDED
    archive = str(tmp_path / "mods.zip")

    def write_archive(modules: dict[str, str]) -> None:
        staging = str(tmp_path / "staging.zip")
        with zipfile.ZipFile(staging, "w") as zf:
            for name, source in modules.items():
                zf.writestr(f"{name}.py", source)
        os.replace(staging, archive)

    write_archive({"zipguard_first": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zipguard_first", "zipguard_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    try:
        assert importlib.import_module("zipguard_first").VALUE == 1

        reads: list[str] = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()  # may read once: the first guarded call
        reads.clear()
        for _ in range(5):
            importlib.invalidate_caches()
        assert reads.count(archive) == 0

        write_archive(
            {"zipguard_first": "VALUE = 1\n", "zipguard_second": "VALUE = 2\n"}
        )
        importlib.invalidate_caches()
        assert importlib.import_module("zipguard_second").VALUE == 2
        assert reads.count(archive) == 1
    finally:
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


_WORKER_PROBE = """
import json
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from parsel_spark.functions.udfs import extract_canonical_links

spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "512m")
    .getOrCreate()
)
pages = spark.createDataFrame(
    [("http://a.example/", "<a href='/x'>x</a>")], "url string, html string"
)
links = pages.select(extract_canonical_links("html", "url").alias("l")).collect()


@F.pandas_udf("string")
def probe(s: pd.Series) -> pd.Series:
    import json, sys, zipimport

    report = json.dumps({
        "imported": "parsel_spark" in sys.modules,
        "guard": getattr(
            zipimport.zipimporter.invalidate_caches, "_parsel_spark_guard", False
        ),
    })
    return s.map(lambda _: report)


row = spark.range(1).select(probe(F.col("id").cast("string")).alias("r")).first()
print("LINKS", json.dumps(links[0]["l"]))
print("PROBE", row["r"])
spark.stop()
"""


def test_engine_udf_installs_guard_in_worker(tmp_path) -> None:
    """An engine UDF unpickled in a Python worker imports the package,
    so a plain pandas UDF the same worker runs next sees the guard."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p
    )
    env["SPARK_LOCAL_DIRS"] = str(tmp_path)
    done = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    lines = dict(
        line.split(" ", 1)
        for line in done.stdout.splitlines()
        if line.startswith(("LINKS ", "PROBE "))
    )
    assert json.loads(lines["LINKS"]) == ["http://a.example/x"]
    report = json.loads(lines["PROBE"])
    assert report["imported"] is True
    assert report["guard"] is GUARDED


def _fold_one_shard(spark, hashes, state, kind: str, delete: bool = False):
    """``bloom_update`` over one shard (``num_shards=1`` puts every url
    on shard 0); returns its single output row."""
    added = spark.createDataFrame(
        [(f"u{h}", int(h)) for h in hashes], "url string, url_hash long"
    )
    rows = fr.bloom_update(added, state, 1, kind=kind, delete=delete).collect()
    assert [r["shard_id"] for r in rows] == [0]
    return rows[0]


@pytest.mark.parametrize("case", ["empty", "partial", "cuckoo_delete"])
def test_bloom_update_shard_hash_equals_content_hash(spark, case) -> None:
    rng = np.random.default_rng(7)
    hashes = rng.integers(-(2**63), 2**63 - 1, size=500, dtype=np.int64)
    if case == "empty":
        state = spark.createDataFrame(
            [(0, BloomShard().to_bytes(), 0, 0)], fr.BLOOM_SCHEMA
        )
        row = _fold_one_shard(spark, [], state, "bloom")
        reference = BloomShard()
    elif case == "partial":
        state = spark.createDataFrame([], fr.BLOOM_SCHEMA)
        row = _fold_one_shard(spark, hashes, state, "bloom")
        reference = BloomShard()
        reference.add_hashes(hashes)
    else:
        filled = CuckooShard()
        for h in hashes:
            filled.add(int(h))
        state = spark.createDataFrame(
            [(0, filled.to_bytes(), filled.n_items, filled.content_hash())],
            fr.BLOOM_SCHEMA,
        )
        row = _fold_one_shard(spark, hashes[:200], state, "cuckoo", delete=True)
        reference = CuckooShard(table=filled.to_bytes(), n_items=filled.n_items)
        for h in hashes[:200]:
            reference.delete(int(h))
    assert bytes(row["bitmap"]) == reference.to_bytes()
    assert row["n_items"] == reference.n_items
    assert row["shard_hash"] == reference.content_hash()
