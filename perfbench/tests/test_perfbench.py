"""The benchmark's own tests, at tiny size (1 star location, 2 cycles, a
2-micro-batch backlog). Run from the repository root:

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import inputs, metrics

ROOT = Path(__file__).resolve().parents[2]
RUN = [sys.executable, "perfbench/run.py"]


def _run(tmp_path: Path, workload: str, trace: int, *extra: str,
         cwd: Path = ROOT) -> tuple[int, dict | None, str]:
    proc = subprocess.run(
        RUN + ["--workload", workload, "--seed", "7", "--seconds", "1",
               "--trace", str(trace), "--size", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=400)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return proc.returncode, result, proc.stderr


def test_metric_names_and_units_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == metrics.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} \
        == {"star_daily", "bronze_backlog"}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = inputs.write_backlog(5, str(tmp_path / "a" / "bronze"), 3)
    b = inputs.write_backlog(5, str(tmp_path / "b" / "bronze"), 3)
    assert len(a) == len(b) == 12
    for pa, pb in zip(a, b):
        assert Path(pa).relative_to(tmp_path / "a") \
            == Path(pb).relative_to(tmp_path / "b")
        assert filecmp.cmp(pa, pb, shallow=False)
    c = inputs.write_backlog(6, str(tmp_path / "c" / "bronze"), 3)
    assert Path(a[0]).read_bytes() != Path(c[0]).read_bytes()
    with open(a[0], encoding="utf-8") as f:
        payload = json.load(f)
    assert sum(len(d["coordinates"][0]["dates"])
               for d in payload["weather"]["data"]) \
        == inputs.READINGS_PER_FILE

    assert inputs.star_inputs(5, 3) == inputs.star_inputs(5, 3)
    assert inputs.star_inputs(5, 3) != inputs.star_inputs(6, 3)


def test_corrupting_fetcher_drops_weather_data_of_its_target_only():
    def fetch(city, country, lat, lon, run_date):
        return {"city": city, "weather": {"status": "OK", "data": [1]}}

    f = inputs.CorruptingFetcher(fetch, ("a", "b", "2024-01-01"))
    assert "data" not in f("a", "b", 0.0, 0.0, "2024-01-01")["weather"]
    assert f("a", "b", 0.0, 0.0, "2024-01-02")["weather"]["data"] == [1]
    assert f.injected == 1


@pytest.mark.parametrize("workload", ["star_daily", "bronze_backlog"])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_printed_with_its_unit(tmp_path, workload, trace):
    rc, result, err = _run(tmp_path, workload, trace)
    assert rc == 0, err[-3000:]
    assert result is not None, err[-3000:]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, err[-3000:]
    assert result["attempted"] >= (2 if workload == "star_daily" else 1)
    want = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], float), name
    if not trace:
        for name, m in result["metrics"].items():
            assert m["value"] > 0, name
    elif workload == "star_daily":
        assert result["metrics"]["sources.quarantined"]["value"] > 0
        assert result["metrics"]["operators.txlog.commits"]["value"] > 0
    else:
        assert result["metrics"]["streaming.batches"]["value"] == 2


def test_a_wrong_expected_value_counts_as_failed(tmp_path):
    rc, result, err = _run(tmp_path, "bronze_backlog", 0, "--tamper-expected")
    assert rc == 0, err[-3000:]
    assert result["correct"] is False
    assert result["failed"] > 0
    assert result["failed"] / result["attempted"] > 0


def test_without_the_package_it_fails_without_a_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, result, _ = _run(tmp_path, "star_daily", 0, cwd=tmp_path)
    assert rc != 0
    assert result is None
