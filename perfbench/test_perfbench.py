"""The benchmark's own tests: ``python3 -m pytest perfbench -q``.

The smoke tests run every workload at sf0.001 for one second, untraced
and traced (about four minutes in all on four cores).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _git_status() -> str | None:
    try:
        out = subprocess.run(
            ["git", "status", "--porcelain", "--untracked-files=all"],
            cwd=ROOT, capture_output=True, text=True, timeout=60,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout if out.returncode == 0 else None


def _run(workload: str, trace: int, cwd: str = ROOT, scale: str = "0.001"):
    cmd = [
        *SPEC["command"], "--workload", workload, "--seed", "7",
        "--seconds", "1", "--trace", str(trace), "--scale", scale,
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def _record(workload: str, trace: int) -> dict:
    path = os.path.join(
        ROOT, ".perfbench", "runs", f"{workload}-seed7-trace{trace}.json"
    )
    with open(path) as f:
        return json.load(f)


def test_spec_names_the_workloads_and_metrics():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    per_layer = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert per_layer == tracing.LAYER_METRICS
    end_to_end = [m["name"] for m in SPEC["end_to_end"]]
    assert "setup_s" in end_to_end


def test_parse_sql_metric():
    p = tracing.parse_sql_metric
    assert p("3.0 s") == 3.0
    assert p("101 ms") == pytest.approx(0.101)
    assert p("1.5 m") == 90.0
    assert p("2.0 KiB") == 2048.0
    assert p("100,000") == 100000.0
    header = "total (min, med, max (stageId: taskId))\n"
    assert p(header + "8.7 s (365 ms, 3.7 s, 4.2 s (stage 1.0: task 2))") == 8.7
    assert p(header + "795.2 KiB (198.8 KiB, 1 KiB (stage 1.0: task 3))") == (
        pytest.approx(795.2 * 1024)
    )


def test_union_of_intervals():
    assert tracing.union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_s([(0, 10), (2, 3)]) == 10
    assert tracing.clipped_union_s([(0, 2), (1, 3), (5, 6)], 1, 5.5) == 2.5


# SHA-256 prefixes of the engine's published test data files (TESTDATA.md,
# written with pyarrow 16.1); the synthesis must reproduce them byte for byte
TESTDATA_SHA256 = {
    0.001: {
        "region": "ce0717013cdeb77e", "nation": "590830f49a4bd515",
        "customer": "14cc0a87578999fc", "supplier": "6a61c8ceec13a7bf",
        "part": "fa2e28382bd1552a", "orders": "1c313e7a580f2679",
        "lineitem": "104501c514a4f24e", "events": "7fd4b9d6277e78d4",
        "documents": "dae477afb99976de", "embeddings": "a3177c59491c14cc",
    },
    0.01: {
        "region": "ce0717013cdeb77e", "nation": "590830f49a4bd515",
        "customer": "a7748ced9c4d47fe", "supplier": "d7424445156dfe7e",
        "part": "bd41856c401f578d", "orders": "5676f9128455769b",
        "lineitem": "4838c2d835f3035e", "events": "bb5b2c28f8905d98",
        "documents": "3882fed1c345efc5", "embeddings": "5bd2b0f09265a066",
    },
    0.1: {
        "region": "ce0717013cdeb77e", "nation": "590830f49a4bd515",
        "customer": "d5de58d671fa7dbf", "supplier": "ab1a9344d47e6597",
        "part": "082525b9eb5098fe", "orders": "128b7e8c223a3934",
        "lineitem": "e2be01994986260d", "events": "1d18f4489b6c943b",
        "documents": "d10b0da67e5aceb4", "embeddings": "f5a6fe8c86ce8719",
    },
}


@pytest.mark.parametrize("sf", sorted(TESTDATA_SHA256))
def test_fixtures_match_the_test_data(tmp_path, sf):
    d, _ = fixtures.ensure(str(tmp_path), sf)
    got = {}
    for t in fixtures.TABLES:
        with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
            got[t] = hashlib.sha256(f.read()).hexdigest()[:16]
    assert got == TESTDATA_SHA256[sf]
    assert fixtures.check_rows(d, sf)["lineitem"] == round(6_000_000 * sf)
    with pytest.raises(RuntimeError, match="row counts"):
        fixtures.check_rows(d, sf * 10)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    out = _run(next(iter(WORKLOADS)), 0, cwd=str(tmp_path))
    assert out.returncode != 0
    assert not out.stdout.strip()


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke(workload):
    before = _git_status()
    results = {}
    for trace in (0, 1):
        out = _run(workload, trace)
        assert out.returncode == 0, out.stderr[-3000:]
        results[trace] = (out.stdout, json.loads(out.stdout.strip().splitlines()[-1]))
    assert _git_status() == before, "a run changed the working tree"

    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        stdout, result = results[trace]
        assert result["correct"] and result["failed"] == 0, stdout
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        want = {m["name"]: m["unit"] for m in SPEC[key]}
        assert {k: v["unit"] for k, v in result["metrics"].items()} == want
        lines = stdout.splitlines()
        for name, unit in want.items():
            assert any(
                line.startswith(f"{workload} {name} = ")
                and line.endswith(f" {unit}")
                for line in lines
            ), (name, unit)
    assert f"{workload} failed_frac = 0 " in results[0][0]
    assert f"{workload} query_tail_s = " in results[0][0]

    # the layers reconcile with Spark's own record of each traced query:
    # the write's SQL executions fill its execute window, its stages lie
    # inside it, and every job falls in one of the query's windows
    record = _record(workload, 1)
    assert record["traced_queries"]
    for q in record["traced_queries"]:
        assert q["trace.reconcile_err"] <= 0.05, q
        assert q["jobs_outside"] == 0, q
        if q["query"].startswith("stream_"):
            # every micro-batch runs at least one job, in the query's group
            assert q["streaming.batches"] >= 1, q
            assert q["inventory.build_jobs"] >= q["streaming.batches"], q
    assert record["layers"]["trace.reconcile_err"] <= 0.05
