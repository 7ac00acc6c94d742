"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The two end-to-end tests start Spark in a subprocess (a few minutes in all).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
REPO = HERE.parent
sys.path[:0] = [str(REPO), str(HERE)]

import datagen  # noqa: E402
import run  # noqa: E402
from tracing import covered  # noqa: E402

SPEC = json.loads((REPO / "BENCHMARK.json").read_text())


def bench(*args: str) -> tuple[int, list[dict]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "1", "--seconds", "1",
         "--tiny", *args],
        cwd=REPO, capture_output=True, text=True, timeout=900,
    )
    lines = [json.loads(s) for s in proc.stdout.splitlines() if s.startswith("{")]
    return proc.returncode, lines


@pytest.mark.parametrize("trace, section", [(0, "end_to_end"), (1, "per_layer")])
def test_tiny_run_emits_every_metric_with_its_unit(trace, section):
    code, lines = bench("--workload", "all", "--trace", str(trace))
    assert code == 0, lines
    final = lines[-1]
    assert set(final) == {"correct", "attempted", "failed", "metrics"}
    assert final["correct"] is True and final["failed"] == 0
    want = {
        f"{w['name']}/{m['name']}": m["unit"]
        for w in SPEC["workloads"] for m in SPEC[section]
    }
    got = {k: v["unit"] for k, v in final["metrics"].items()}
    assert got == want
    for v in final["metrics"].values():
        assert isinstance(v["value"], (int, float))
    details = lines[:-1]
    assert [d["workload"] for d in details] == [w["name"] for w in SPEC["workloads"]]
    assert all(d["seed"] == 1 and d["fail_ratio"] == 0.0 for d in details)


def test_deleted_destination_part_file_trips_the_gate():
    code, lines = bench("--workload", "copy_large", "--trace", "0",
                        "--inject-fault", "delete-part")
    assert code != 0
    detail, final = lines[-2], lines[-1]
    assert final["correct"] is False and final["failed"] >= 1
    assert detail["fail_ratio"] > 0
    assert any("destination has" in e for e in detail["errors"])


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    def inputs(tag: str, seed: int) -> dict[str, bytes]:
        wl = run.CopyLarge(run.Context(None, tmp_path / tag, seed, True, None))
        wl.prepare()
        files = {"order": repr(wl.tables).encode()}
        for p in sorted(wl.src.glob("*.parquet")):
            files[p.name] = p.read_bytes()
        return files

    a, b, c = inputs("a", 7), inputs("b", 7), inputs("c", 8)
    assert a == b
    # another seed reorders the submission; a one-copy (tiny) inflated
    # file has no copy order, so its content stays the same
    assert a.pop("order") != c.pop("order")
    assert a == c


def test_inflated_copies_follow_the_seeded_order(tmp_path):
    import pyarrow.parquet as pq

    datagen.generate(str(tmp_path), 0.001, names=("lineitem",))
    src = tmp_path / "lineitem.parquet"
    n = datagen.inflate(str(src), str(tmp_path / "a.parquet"), 3, [2, 0, 1])
    base = pq.read_table(src)["l_orderkey"].to_pylist()
    shift = max(base) + 1
    keys = pq.read_table(tmp_path / "a.parquet")["l_orderkey"].to_pylist()
    assert n == len(keys) == 3 * len(base)
    assert keys[: len(base)] == [k + 2 * shift for k in base]
    assert keys[len(base): 2 * len(base)] == base


def test_covered_merges_overlapping_intervals():
    assert covered([]) == 0
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([(0, 10), (2, 3)]) == 10


def test_benchmark_json_follows_the_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert all(len(w["why"]) <= 200 for w in SPEC["workloads"])
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    assert set(e2e) == set(run.END_TO_END_UNITS)
    assert {k: m["unit"] for k, m in e2e.items()} == run.END_TO_END_UNITS
    assert all(m["bound"] <= e2e["setup_s"]["bound"] <= 0.25 for m in e2e.values())
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
