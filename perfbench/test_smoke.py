"""Toy-size smoke test of the benchmark itself.

    python3 -m pytest perfbench/test_smoke.py -q

The runs start a local Spark session each and take a few minutes in all.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import checks, trace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TOY_ROWS = {"images_full": 300, "captions_text": 600}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace_on: int, cwd: str = ROOT,
         rows: bool = True) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace_on)]
    if rows:
        cmd += ["--rows", str(TOY_ROWS[workload])]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


@pytest.fixture(scope="module")
def runs() -> dict:
    out = {}
    for key in (("images_full", 0), ("images_full", 1), ("captions_text", 1)):
        proc = _run(*key)
        assert proc.returncode == 0, proc.stderr[-3000:]
        lines = proc.stdout.strip().splitlines()
        out[key] = (json.loads(lines[-2]), json.loads(lines[-1]))
    return out


@pytest.mark.parametrize("key", [("images_full", 0), ("images_full", 1),
                                 ("captions_text", 1)])
def test_every_metric_printed_with_its_unit(runs, key):
    _, result = runs[key]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    spec = _spec()["per_layer" if key[1] else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = result["metrics"]
    assert set(got) == set(want)
    for name, unit in want.items():
        assert got[name]["unit"] == unit, name
        assert isinstance(got[name]["value"], (int, float)), name


def test_event_log_yields_a_row_for_every_layer(runs):
    image_layers = set(trace.OPERATOR_LAYERS + trace.MINOR_LAYERS)
    image_layers.discard("operators.textdedup")
    rows = runs[("images_full", 1)][0]["layers"]
    for layer in image_layers:
        assert rows.get(layer, {}).get("tasks", 0) > 0, layer
    text_rows = runs[("captions_text", 1)][0]["layers"]
    assert text_rows["operators.textdedup"]["tasks"] > 0
    m = runs[("images_full", 1)][1]["metrics"]
    spans = sum(m[f"plans.pipeline.{s}.span_s"]["value"]
                for s in trace.STAGES
                if s not in ("t_invalid", "t_skew_report", "t_dir_report"))
    assert spans + m["plans.pipeline.gap_s"]["value"] == pytest.approx(
        m["trace.pass_s"]["value"], rel=1e-3)


def test_traced_and_untraced_outputs_agree(runs):
    digests = set()
    for key in (("images_full", 0), ("images_full", 1)):
        digests |= {p["digest"] for p in runs[key][0]["info"]["passes"]}
    assert len(digests) == 1


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("images_full", 0, cwd=str(tmp_path), rows=False)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# -- the output check, without Spark ---------------------------------------

N = 1000


def _truth():
    links = checks.planted_links(N)
    group = checks._groups(N, links)
    id_of_row = {r: f"img_{r:06d}" for r in range(N)}
    expected = set(range(N)) - checks.invalid_rows(N)
    rows = sorted(expected)
    ids = [id_of_row[r] for r in rows]
    cids = [id_of_row[group[r]] for r in rows]
    return ids, cids, id_of_row, expected, links


def test_correct_table_passes():
    v = checks.check_clusters(*_truth())
    assert v.ok and v.planted_recall == 1.0 and v.link_recall == 1.0
    assert v.missed_links == 0 and v.unplanted_pairs == 0


def test_corrupted_cluster_tables_fail():
    ids, cids, id_of_row, expected, links = _truth()
    dup = checks.check_clusters(ids + ids[:1], cids + cids[:1], id_of_row,
                                expected, links)
    assert not dup.ok
    dropped = checks.check_clusters(ids[1:], cids[1:], id_of_row, expected, links)
    assert not dropped.ok
    # every row its own cluster: the planted groups fall apart
    split = checks.check_clusters(ids, ids, id_of_row, expected, links)
    assert not split.ok and split.planted_recall < checks.RECALL_FLOOR
    # one scenario lost (every caption-edit link of slot 55) while the hot
    # group stays whole: pair recall hardly moves, link recall fails
    kept = [(a, b) for a, b in links if a % 100 != 55]
    group = checks._groups(N, kept)
    lost = [id_of_row[group[r]] for r in sorted(expected)]
    scenario = checks.check_clusters(ids, lost, id_of_row, expected, links)
    assert scenario.planted_recall >= checks.RECALL_FLOOR
    assert not scenario.ok
    assert scenario.link_recall < checks.LINK_RECALL_FLOOR
    # one row moved to another cluster changes the digest
    moved = list(cids)
    moved[0] = cids[-1]
    assert checks.digest(ids, moved) != checks.digest(ids, cids)
    assert checks.digest(ids[::-1], cids[::-1]) == checks.digest(ids, cids)
