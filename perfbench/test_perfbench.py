"""The benchmark's own tests: ``python3 -m pytest perfbench -q`` from the
repository root. The last two run the benchmark end to end (a few minutes)."""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import gate  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("shape", sorted(corpus.SHAPES))
def test_same_seed_gives_byte_identical_inputs(tmp_path, shape):
    a = corpus.write_corpus(7, shape, str(tmp_path / "a"))
    b = corpus.write_corpus(7, shape, str(tmp_path / "b"))
    assert a == b
    assert filecmp.cmp(tmp_path / "a" / "documents.parquet", tmp_path / "b" / "documents.parquet", shallow=False)


def test_stream_payloads_are_seeded():
    assert corpus.stream_payloads(3, 50, "open") == corpus.stream_payloads(3, 50, "open")
    assert corpus.stream_payloads(3, 50, "open") != corpus.stream_payloads(4, 50, "open")


@pytest.mark.parametrize("shape", sorted(corpus.SHAPES))
def test_other_seed_gives_other_inputs_with_the_same_descriptors(tmp_path, shape):
    a = corpus.write_corpus(1, shape, str(tmp_path / "a"))
    b = corpus.write_corpus(2, shape, str(tmp_path / "b"))
    assert not filecmp.cmp(tmp_path / "a" / "documents.parquet", tmp_path / "b" / "documents.parquet", shallow=False)
    assert a == b  # cluster profile and planted pairs do not depend on the seed
    texts, langs, desc = corpus.make_corpus(2, shape)
    assert desc["documents"] == corpus.SHAPES[shape]["docs"]
    assert 0.38 <= langs.count("en") / len(langs) <= 0.44
    assert min(map(len, texts)) >= 40 and max(map(len, texts)) <= 600
    if shape == "dupheavy":
        assert 0.45 <= desc["distinct_texts"] / desc["documents"] <= 0.6
    else:
        assert desc["distinct_texts"] == desc["documents"]


def test_corrupted_output_row_counts_as_failed(tmp_path):
    """The gate compares against the DuckDB oracle digest; one changed
    value in one row must turn a passing check into a failed operation."""
    corpus.write_corpus(1, "unique", str(tmp_path))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    rows, cols = gate.duckdb_rows(con, "SELECT doc_id, lang, n_chars FROM documents")
    want = gate.digest(rows, cols)

    tally = gate.Tally()
    tally.record("clean", gate.mismatch(rows, cols, want))
    assert tally.failed_frac == 0.0
    bad = list(rows)
    bad[5] = (bad[5][0], bad[5][1], bad[5][2] + 1)
    tally.record("corrupted", gate.mismatch(bad, cols, want))
    assert tally.failed == 1 and tally.failed_frac > 0
    assert gate.mismatch(rows[:-1], cols, want).startswith("rows")


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in _spec()["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(_spec()["command"] + ["--workload", "stream-classify", "--seed", "1",
                                             "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["batch-dupheavy", "stream-classify"])
def test_every_benchmark_metric_is_printed_with_its_unit(workload, trace):
    spec = _spec()
    assert workload in {w["name"] for w in spec["workloads"]}
    p = subprocess.run(spec["command"] + ["--workload", workload, "--seed", "11",
                                          "--seconds", "2", "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] > 0
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in last["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in last["metrics"].values())
