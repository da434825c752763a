"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The input tests need no Spark. The two output tests run the benchmark
itself (one untraced and one traced ``mr_jobs`` run, about a minute
each on 4 cores).
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
for p in (BENCH, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

import inputs  # noqa: E402
import workloads  # noqa: E402

SCALE = 0.001


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for base, _, names in os.walk(d):
        for n in names:
            path = os.path.join(base, n)
            with open(path, "rb") as f:
                out[os.path.relpath(path, d)] = f.read()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    tables = inputs.make_tables(SCALE)
    inputs.write_tables(tables, str(tmp_path / "a"), 7)
    inputs.write_tables(inputs.make_tables(SCALE), str(tmp_path / "b"), 7)
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    inputs.write_corpus(7, 500, str(tmp_path / "c"))
    inputs.write_corpus(7, 500, str(tmp_path / "d"))
    assert _files(str(tmp_path / "c")) == _files(str(tmp_path / "d"))


def test_two_seeds_differ_in_layout_but_not_in_oracle_results(tmp_path):
    from simplemapreduceframework_spark import registry
    from simplemapreduceframework_spark.testing import duckdb_connection, fingerprint

    registry.load_all()
    tables = inputs.make_tables(SCALE)
    dirs = [str(tmp_path / "s1"), str(tmp_path / "s2")]
    inputs.write_tables(tables, dirs[0], 1)
    inputs.write_tables(tables, dirs[1], 2)
    assert _files(dirs[0]) != _files(dirs[1])

    def oracle_results(d: str) -> dict[str, list[str]]:
        con = duckdb_connection(d)
        try:
            out = {}
            for name in workloads.LLM_PIPELINE:
                oracle = registry.ORACLES.get(name)
                if oracle is None:
                    continue
                cur = con.execute(oracle)
                cols = [c[0] for c in cur.description]
                rows = [dict(zip(cols, r)) for r in cur.fetchall()]
                out[name] = fingerprint(rows, sorted(cols))
            return out
        finally:
            con.close()

    first, second = oracle_results(dirs[0]), oracle_results(dirs[1])
    assert first.keys() == second.keys() == set(workloads.LLM_PIPELINE)
    for name in first:
        assert first[name] == second[name], name


def test_mr_expected_counts_match_a_direct_count():
    corpus = inputs.make_corpus(3, 200)
    lines, csv = corpus
    c = inputs.Corpus("", "", "", lines, csv, 0)
    expected = workloads.mr_expected(c)
    assert sum(expected["wc_fast"].values()) == sum(
        len(line.split("\t", 1)[1].split()) for line in lines
    )
    assert sum(n for n, _ in expected["inverted_index"].values()) == sum(
        len(set(line.split("\t", 1)[1].split())) for line in lines
    )
    assert set(expected["grouped_avg"]) == set(inputs.BREEDS)


def _benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )


@pytest.mark.parametrize("trace,section", [("0", "end_to_end"), ("1", "per_layer")])
def test_printed_metrics_match_benchmark_json(trace, section):
    p = _run("--workload", "mr_jobs", "--seed", "5", "--seconds", "1", "--trace", trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _benchmark_spec()[section]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    if trace == "1":
        assert "fitness ok" in p.stdout


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("work"))
    p = _run("--workload", "mr_jobs", "--seed", "1", "--seconds", "1", "--trace", "0",
             cwd=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()
