"""Self-tests of the benchmark itself.

    python3 -m pytest perfbench -q

The last two tests start Spark in subprocesses and take a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import gen
from perfbench.run import ROOT, timing

# a headline query whose Python workers import the package (without the
# exported PYTHONPATH it fails with ModuleNotFoundError)
UDF_QUERY = "op_multimodal_pipeline"


def _files(dir_path) -> dict[str, bytes]:
    return {f: open(os.path.join(dir_path, f), "rb").read() for f in sorted(os.listdir(dir_path))}


def test_envelopes_depend_only_on_the_seed(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.write_envelopes(gen.api_records(seed), str(tmp_path / name))
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert _files(tmp_path / "a") != _files(tmp_path / "c")


def test_every_seed_carries_every_guard_case():
    for seed in range(5):
        r = gen.api_records(seed)
        assert {ep: len(recs) for ep, recs in r.items()} == gen.SIZES
        agents, weapons = r["agents"], r["weapons"]
        assert sum(a.get("isPlayableCharacter") is False for a in agents) == 1
        assert sum("isPlayableCharacter" not in a for a in agents) == 1
        assert sum(a["role"] is None for a in agents) == 1
        assert sum(len(a["description"]) > 500 for a in agents) == 1
        assert sum(a.get("abilities") is None for a in agents) == 2  # null and missing
        assert sum(w["weaponStats"] is None for w in weapons) == 1
        assert sum(w["shopData"] is None for w in weapons) == 1
        assert sum(bool(w["weaponStats"]) and w["weaponStats"]["damageRanges"] is None for w in weapons) == 1
        assert sum(m["callouts"] is None for m in r["maps"]) == 1
        assert sum(m["coordinates"] is None for m in r["maps"]) == 1
        assert sum("duration" not in g for g in r["gamemodes"]) == 1
        assert sum("allowsMatchTimeouts" not in g for g in r["gamemodes"]) == 1
    # the same row counts for every seed, so items per cycle do not vary
    counts = {s: {t: len(k) for t, k in gen.expected_keys(gen.api_records(s)).items()} for s in range(5)}
    assert len({tuple(sorted(c.items())) for c in counts.values()}) == 1


def test_query_batches_depend_only_on_the_seed():
    ids, vocab = list(range(500)), [f"t{i}" for i in range(31)]
    a = [gen.query_batch(3, i, ids, vocab) for i in range(4)]
    assert a == [gen.query_batch(3, i, ids, vocab) for i in range(4)]
    assert a != [gen.query_batch(4, i, ids, vocab) for i in range(4)]
    assert all(len(b) == 8 and all(len(set(t)) == 3 for t in b.values()) for b in a)
    assert gen.permutation(3, 0, ["x", "y", "z"]) == gen.permutation(3, 0, ["z", "y", "x"])


def test_timing_reports_a_tail_only_with_ten_samples_beyond_it():
    assert "p90" not in timing([1.0] * 99)
    assert timing([float(i) for i in range(100)])["p90"] == pytest.approx(89.1)
    assert timing([1.0] * 1000)["p99"] == 1.0


def _subprocess(code: str, cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-c", code], cwd=cwd, capture_output=True, text=True, timeout=600
    )


def test_etl_checker_accepts_the_golden_fixture(tmp_path):
    """The warehouse check passes the repository's own fixture
    envelopes against fixtures.EXPECTED, and fails a changed expectation."""
    code = f"""
import os, sys
sys.path.insert(0, {ROOT!r})
from perfbench.run import isolate
conf = isolate({str(tmp_path / "work")!r})
from game_data_etl_pipeline_spark.etl import fixtures
from game_data_etl_pipeline_spark.etl.pipeline import ETLPipeline
from game_data_etl_pipeline_spark.session import get_spark
from perfbench import gen
from perfbench.workloads import check_warehouse
fixtures.write_landing({str(tmp_path / "api")!r})
cfg = {{"api": {{"endpoints": list(gen.ENDPOINTS), "offline_dir": {str(tmp_path / "api")!r},
        "request_delay_seconds": 0}},
       "landing": {{"path": {str(tmp_path / "landing")!r}}},
       "warehouse": {{"path": {str(tmp_path / "wh")!r}}}}}
ETLPipeline(get_spark("selftest", extra_conf=conf), cfg).run()
expected = {{
    t: {{tuple(dict(zip(fixtures.COLUMNS[t], row))[k] for k in gen.TABLE_KEYS[t]) for row in rows}}
    for t, rows in fixtures.EXPECTED.items()
}}
assert check_warehouse({str(tmp_path / "wh")!r}, expected) == [], check_warehouse({str(tmp_path / "wh")!r}, expected)
expected["agents"].add(("agent-npc",))
assert check_warehouse({str(tmp_path / "wh")!r}, expected), "a missing row went unnoticed"
print("ok")
"""
    out = _subprocess(code, str(tmp_path))
    assert out.stdout.strip().endswith("ok"), out.stderr[-3000:]


def test_udf_query_runs_from_another_working_directory(tmp_path):
    """With the package on sys.path only, Spark's Python workers find it
    through the environment the benchmark exports."""
    code = f"""
import sys
sys.path.insert(0, {ROOT!r})
from perfbench.run import DATA_DIR, isolate
conf = isolate({str(tmp_path / "work")!r})
from game_data_etl_pipeline_spark import registry
from game_data_etl_pipeline_spark.session import get_spark
spark = get_spark("selftest", extra_conf=conf)
registry.all_specs()[{UDF_QUERY!r}].fn(spark, DATA_DIR + "/sf0.001").collect()
print("ok")
"""
    out = _subprocess(code, str(tmp_path))
    assert out.stdout.strip().endswith("ok"), out.stderr[-3000:]


@pytest.mark.parametrize("workload", ["etl_cycle", "retrieval_served"])
def test_traced_counts_repeat_for_the_same_seed(workload):
    """Two traced runs with one seed give the same jobs and tasks for
    every layer."""
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", "9000", "--seconds", "5", "--trace", "1"]
    counts = []
    for _ in range(2):
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        assert out.returncode == 0, out.stderr[-3000:]
        detail, result = (json.loads(line) for line in out.stdout.splitlines()[-2:])
        assert result["correct"], detail["problems"]
        counts.append({k: v["value"] for k, v in result["metrics"].items() if k.endswith((".jobs", ".tasks"))})
    assert counts[0] == counts[1]
    assert any(counts[0].values())


def test_benchmark_json_declares_what_the_listed_workloads_print():
    from perfbench.run import TRACING_METRICS, unit_of
    from perfbench.workloads import WORKLOADS, layer_metric_names

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    listed = [WORKLOADS[w["name"]] for w in bench["workloads"]]
    want = list(dict.fromkeys(n for w in listed for n in layer_metric_names(w))) + list(TRACING_METRICS)
    assert [m["name"] for m in bench["per_layer"]] == want
    # every layer of the four workloads is measured on a listed one
    single = ("etl_cycle", "analytics_batch", "retrieval_served", "stream_store")
    assert {n for w in single for n in layer_metric_names(WORKLOADS[w])} <= set(want)
    assert [m["name"] for m in bench["end_to_end"]] == ["setup_s", "op_s_p50", "items_per_s", "cpu_s_per_op"]
    assert {"recall_at_20", "recall_floor_share"} <= {m["name"].rsplit(".", 1)[1] for m in bench["per_layer"]}
    assert all(m["unit"] == unit_of(m["name"]) for m in bench["per_layer"] + bench["end_to_end"])
