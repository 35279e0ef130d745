"""The benchmark's own tests, at tiny input scale.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import oracles  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import wide  # noqa: E402
from workloads import WORKLOADS, Steps  # noqa: E402

SCALE = 0.02


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import box

    work = tmp_path_factory.mktemp("perfbench")
    box.pin_process_env(str(work / "tmp"))
    b = box.Box(cores=2, driver_mem_mb=1024, shuffle_partitions=4,
                local_dir=str(work / "spark-local"))
    s, _ = box.start_session(b)
    yield s
    s.stop()


def _bench() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_per_layer_catalog_matches_benchmark_json():
    listed = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert listed == tracing.PER_LAYER


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in _bench()["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("name", list(WORKLOADS))
def test_different_seed_gives_different_inputs(spark, name):
    wl = WORKLOADS[name]

    def snapshot(seed):
        inp = wl.setup(spark, seed, SCALE)
        dfs = inp["cached"]
        rows = [sorted(map(str, df.limit(2000).collect())) for df in dfs]
        for df in dfs:
            df.unpersist()
        return rows

    first = snapshot(1)
    assert first == snapshot(1)
    assert first != snapshot(2)


def test_shifted_lag_fails_oracle_and_counts_as_failed(spark, tmp_path, monkeypatch):
    from kamae_spark.operators.windows import Lag

    wl = WORKLOADS["feature_job"]
    inp = wl.setup(spark, 5, SCALE)

    def run_job():
        job = wl.cold(spark, inp, Steps(spark), str(tmp_path))
        wl.finish(spark, inp, job, Steps(spark))
        return wl.check(spark, inp, job, 5)

    assert run_job() == []
    stages = wl.pit_stages

    def shifted(ann):
        # prev_text now reads two rows back: a lag shifted by one row
        return [Lag(input_col="text", output_col="prev_text", offset=2,
                    order_by=("ts", "turn_idx"))
                if getattr(s, "output_col", None) == "prev_text" else s
                for s in stages(ann)]

    monkeypatch.setattr(wl, "pit_stages", shifted)
    fails = run_job()
    assert any(f.startswith("prev_text") for f in fails), fails
    res = run.outcome({"ops": 4, "failures": fails})
    assert res == {"correct": False, "attempted": 4, "failed": 4}


def test_xxhash64_matches_spark(spark):
    from pyspark.sql import functions as F

    words = ["", "a", "abcd", "msg conv_7 3 tok tok ", "x" * 31, "y" * 32, "z" * 77]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = [r[0] for r in df.select(F.xxhash64("w")).collect()]
    assert got == [oracles.xxhash64(w.encode()) for w in words]


def test_wide_oracle_flags_a_wrong_feature():
    cfg = wide.config(4)
    rows = pd.DataFrame({
        "conv_id": ["c1", "c2"], "turn_idx": [0, 1], "role": ["assistant", "user"],
        "text": ["msg c1 0", "msg c2 1 tok"], "ts_str": ["2025-01-01 00:00:05"] * 2,
        "raw0": [-3.5, 2.0], "raw1": [10.0, -7.0],
    })
    good = oracles.eval_wide(cfg, rows)
    assert oracles.check_wide(cfg, wide.outputs(4), rows, good) == []
    bad = good.copy()
    bad.loc[0, "f1_a"] += 1
    assert [f.split(":")[0] for f in oracles.check_wide(cfg, wide.outputs(4), rows, bad)] == ["f1_a"]


def test_minhash_oracle_rejects_an_unverified_pair():
    texts = {0: "a b c d e f g h", 1: "a b c d e f g x", 2: "p q r s t u v w"}
    ok = pd.DataFrame({"id_a": [0], "id_b": [1],
                       "jaccard": [oracles.jaccard(texts[0], texts[1])]})
    assert oracles.check_minhash(ok, texts, [(0, 1)], 0.6, 8, 8) == []
    bad = pd.DataFrame({"id_a": [0, 0], "id_b": [1, 2], "jaccard": [0.75, 0.9]})
    assert oracles.check_minhash(bad, texts, [(0, 1)], 0.6, 8, 8)


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_printed_with_its_unit(trace, key):
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", "feature_job", "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", str(SCALE)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _bench()[key]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
