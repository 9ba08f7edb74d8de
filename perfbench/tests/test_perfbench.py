"""The benchmark's own tests, at tiny scale.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
The Spark tests drive ``run.main`` in-process with shrunken inputs, so a
full run of this file takes about six minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

import pandas as pd
import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path[:0] = [str(ROOT), str(BENCH)]

import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.fixture
def tiny(monkeypatch):
    """Shrunken inputs and battery; the environment is restored after."""
    env = dict(os.environ)
    monkeypatch.chdir(ROOT)
    monkeypatch.setattr(inputs, "BULK_TURNS", 4000)
    monkeypatch.setattr(inputs, "BULK_FILES", 4)
    monkeypatch.setattr(inputs, "SKEW_TURNS", 2000)
    monkeypatch.setattr(inputs, "SKEW_FILES", 2)
    monkeypatch.setattr(workloads, "RESUME_BUCKETS", 2)
    monkeypatch.setattr(workloads, "BATTERY", (
        "bbox_minmax", "top1_argmax", "token_packing", "conv_prefix_dedup",
        "tool_call_bigrams", "doc_length_histogram", "ann_lsh_buckets", "exact_dedup"))
    yield
    os.environ.clear()
    os.environ.update(env)


def bench(capsys, workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    """(report line, result line) of one in-process run."""
    run.main(["--workload", workload, "--seed", str(seed), "--seconds", "1",
              "--trace", str(trace)])
    lines = capsys.readouterr().out.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


# --- no Spark ----------------------------------------------------------------

def test_same_seed_same_inputs_other_seed_other_inputs():
    a = inputs.transcripts(1, 3000)
    pd.testing.assert_frame_equal(a, inputs.transcripts(1, 3000))
    assert not a["text"].equals(inputs.transcripts(2, 3000)["text"])
    stats = inputs.corpus_stats(a)
    assert stats["turns"] == 3000
    assert 0.35 < stats["exact_dup_payload_share"] < 0.55


def test_skewed_corpus_has_a_mega_conversation():
    for seed in (1, 2, 3):
        pdf = inputs.transcripts(seed, inputs.SKEW_TURNS, zipf_a=1.2, max_turns=2000)
        assert len(pdf) == inputs.SKEW_TURNS
        assert inputs.corpus_stats(pdf)["largest_conversation_share"] >= 0.05


def test_battery_covers_named_queries_and_every_module():
    from ocr_lib_spark.plans import build_registry

    reg = build_registry()
    assert set(workloads.NAMED_QUERIES) <= set(workloads.BATTERY) <= set(reg)
    mods = workloads.plan_modules()
    assert {mods[q] for q in workloads.BATTERY} == set(workloads.PLAN_MODULES)


def test_self_time_subtracts_child_coverage():
    assert spans.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert spans.covered([(1, 3)], 2, 10) == 1
    t = spans.Tracer(True)
    with t.span("root") as root:
        pass
    root.start, root.end = 0.0, 10.0
    for a, b in ((1.0, 4.0), (3.0, 6.0)):
        t.spans.append(spans.Span("c", "x", root.span_id, t.trace_id, a, b))
    assert t.self_seconds(root) == pytest.approx(5.0)


def test_event_log_attributes_jobs_to_spans(tmp_path):
    t = spans.Tracer(True)
    with t.span("root") as root:
        pass
    root.start, root.end = 100.0, 110.0
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 101000,
         "Stage IDs": [0], "Properties": {spans.SPAN_PROPERTY: root.span_id}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 101000, "Finish Time": 102000, "Getting Result Time": 0,
                       "Accumulables": [{"Name": "data sent to Python workers"}]},
         "Task Metrics": {"Executor Deserialize Time": 100, "Executor Run Time": 800,
                          "Result Serialization Time": 10,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 42}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 104000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 105000,
         "Stage IDs": [1], "Properties": {}},
    ]
    log_file = tmp_path / "app"
    log_file.write_text("\n".join(json.dumps(e) for e in events))
    st = spans.job_stats(spans.EventLog(log_file), t, root)
    assert (st["jobs"], st["tasks"], st["python_tasks"], st["shuffle_bytes"]) == (1, 1, 1, 42)
    assert st["driver_gap_s"] == pytest.approx(7.0)
    assert st["task_overhead_s"] == pytest.approx(0.2)  # 90 ms delay + 100 + 10


def test_battery_check_fails_on_a_perturbed_result(tiny):
    from ocr_lib_spark.plans import build_registry

    import duckdb
    from tools.check_correctness import TABLES

    reg = build_registry()
    sf_dir, _ = inputs.battery_tables(ROOT / ".bench_work" / "inputs")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    good = con.execute(reg["bbox_minmax"].oracle).df()
    bad = good.copy()
    col = next(c for c in bad.columns if pd.api.types.is_numeric_dtype(bad[c]))
    bad.loc[0, col] = bad.loc[0, col] + 1
    r = workloads.Run(ROOT, 1, 1, False, 1, None)
    workloads.check_battery(r, reg, [{"bbox_minmax": (0.1, good)}], sf_dir)
    assert (r.attempted, r.failed) == (1, 0)
    workloads.check_battery(r, reg, [{"bbox_minmax": (0.1, bad)}], sf_dir)
    assert (r.attempted, r.failed) == (2, 1)


def test_failure_without_a_checkout(tmp_path):
    """Only BENCHMARK.json and the benchmark: no result, non-zero exit."""
    import subprocess

    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "bulk_extract",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


# --- Spark, tiny scale -------------------------------------------------------

def _names(kind: str) -> list[str]:
    return [m["name"] for m in SPEC[kind]]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_untraced_run_emits_every_end_to_end_metric(tiny, capsys, workload):
    report, res = bench(capsys, workload, 1, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert set(res["metrics"]) == set(units)
    for name, v in res["metrics"].items():
        assert v["unit"] == units[name] and v["value"] > 0
    assert report["provenance"]["nproc"] and report["inputs"]


LAYERS = {
    "bulk_extract": ("session.", "scan.", "crossing.", "extract_turns.", "assemble.",
                     "sink.", "kernel.", "lineage.", "spark.", "trace."),
    "curation_battery": ("session.", "plans.", "spark.", "trace."),
}


@pytest.mark.parametrize("workload", sorted(LAYERS))
def test_traced_run_emits_its_layers(tiny, capsys, workload):
    report, res = bench(capsys, workload, 1, 1)
    assert res["correct"], report["problems"]
    assert set(res["metrics"]) == set(_names("per_layer"))
    produced = set(report["metrics"])
    for name in _names("per_layer"):
        if name.startswith(LAYERS[workload]):
            assert name in produced, name
    assert all(v["unit"] for v in res["metrics"].values())


def test_other_seed_changes_inputs_not_verdict(tiny, capsys):
    a, ra = bench(capsys, "bulk_extract", 1, 0)
    b, rb = bench(capsys, "bulk_extract", 2, 0)
    assert a["inputs"] != b["inputs"]
    assert ra["correct"] and rb["correct"]


def test_bulk_check_fails_on_a_perturbed_output(tiny, capsys):
    bench(capsys, "bulk_extract", 1, 0)
    out = ROOT / ".bench_work" / "out" / "bulk4"
    df = pd.read_parquet(out)
    df["conv_text"] = df["conv_text"] + " x"
    shutil.rmtree(out)
    out.mkdir()
    df.to_parquet(out / "part-0.parquet", index=False)
    corpus, stats = inputs.bulk_corpus(ROOT / ".bench_work" / "inputs", 1)
    r = workloads.Run(ROOT, 1, 1, False, 1, None)
    r.session(1)
    try:
        workloads.check_bulk(r, corpus, stats, out)
    finally:
        r.stop()
    assert r.failed > 0
