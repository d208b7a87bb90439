"""The benchmark's own test, at a tiny corpus size (6–10 minutes):

    python3 -m pytest kgbench/ -q

It checks that BENCHMARK.json names exactly the metrics the code prints,
that every named metric is printed in both modes, and that a tampered
output fails its check.
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kgbench import run as bench  # noqa: E402
from kgbench.tracing import PER_LAYER_UNITS  # noqa: E402

TINY = "700"  # turns per workload

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def test_spec_matches_code():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} \
        == bench.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} \
        == PER_LAYER_UNITS
    assert len(PER_LAYER_UNITS) <= 128
    assert any(m["name"] == "setup_s" for m in SPEC["end_to_end"])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_printed(workload, trace):
    env = dict(os.environ, KGBENCH_N_TURNS=TINY)
    out = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True, timeout=600)
    assert out.returncode == 0
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in want]
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        if not trace:
            assert got["value"] > 0, m["name"]


def test_tampered_output_fails_check(monkeypatch):
    tmp_path = pathlib.Path(bench.OUT) / f"test-{os.getpid()}"
    monkeypatch.setenv("KGBENCH_N_TURNS", TINY)
    bench.pin_process_env(str(tmp_path))
    from kgbench import workloads
    monkeypatch.setattr(workloads, "N_TURNS_OVERRIDE", int(TINY))
    spark = bench.start_session(str(tmp_path))
    try:
        ds = workloads.DsBatch()
        ds.prepare(spark, 3, str(tmp_path / "ds"))
        run = ds.run(spark, str(tmp_path / "ds_run"))
        assert ds.check(run) == []
        run.output["triples_ds"] = run.output["triples_ds"][1:]
        assert ds.check(run)

        st = workloads.StreamEdges()
        st.prepare(spark, 3, str(tmp_path / "st"))
        run = st.run(spark, str(tmp_path / "st_run"))
        assert st.check(run) == []
        s, p, o, n = run.output["edges"][0]
        run.output["edges"][0] = (s, p, o, n + 1)
        assert st.check(run)
    finally:
        spark.stop()
        bench.shutdown_jvm()
        shutil.rmtree(str(tmp_path), ignore_errors=True)
    assert workloads.learned_problems(["/people/person/spouse"]) == []
    assert workloads.learned_problems(["None", "/people/person/spouse"])
    assert workloads.learned_problems([])
