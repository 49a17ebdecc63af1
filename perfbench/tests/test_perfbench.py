"""The benchmark's own tests: generator determinism, tracer mechanics,
metric bookkeeping, and a one-second smoke run of every workload whose
emitted metric names must be exactly the ones BENCHMARK.json declares.

    python3 -m pytest perfbench/tests -q

The smoke runs start one Spark session each (about a minute apiece on
a 4-CPU host).
"""

from __future__ import annotations

import json
import subprocess
import sys
import threading
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen, run  # noqa: E402
from perfbench.trace import Tracer, attribute_jobs, spark_totals  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    LAYERS, WORKLOADS, CdwInputs, Result, _side_by_side, percentile_with_tail,
)

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _tree_bytes(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


def _cdw_tree(seed: int, root: Path) -> dict[str, bytes]:
    inputs = CdwInputs(seed, str(root), 120)
    inputs.drop_new(40)
    inputs.edit_registry(5)
    inputs.drop_new(10)
    inputs.drop_modified(4)
    return _tree_bytes(root)


def test_cdw_inputs_are_byte_identical_per_seed(tmp_path):
    a = _cdw_tree(7, tmp_path / "a")
    b = _cdw_tree(7, tmp_path / "b")
    c = _cdw_tree(8, tmp_path / "c")
    assert a == b
    assert len(a) == 51  # registry + 50 notes
    assert a != c


def test_corpus_and_serving_generators_are_deterministic():
    assert [gen.corpus_doc(3, i) for i in range(300)] == [gen.corpus_doc(3, i) for i in range(300)]
    assert [gen.corpus_doc(3, i) for i in range(300)] != [gen.corpus_doc(4, i) for i in range(300)]
    assert gen.embeddings(3, range(50)).tobytes() == gen.embeddings(3, range(50)).tobytes()
    assert gen.embeddings(3, range(10, 20)).tobytes() == gen.embeddings(3, range(50))[10:20].tobytes()
    q1 = gen.quantizer(3, gen.embeddings(3, range(400)))
    q2 = gen.quantizer(3, gen.embeddings(3, range(400)))
    assert q1 == q2
    assert gen.read_mix(3, 90, 400, range(400, 500)) == gen.read_mix(3, 90, 400, range(400, 500))


def test_registry_plants_duplicates_and_leading_zero_ipps():
    rows, n_dups = gen.registry_rows(5, 500)
    data = rows[1:]
    assert len(data) == 500 + n_dups and n_dups == 5
    keys = [(r[0], r[1], r[2], r[6], r[7]) for r in data]
    assert len(set(keys)) == 500
    ipps = [r[5] for r in data]
    assert len(set(ipps)) == len(ipps)
    assert all(len(x) == 8 for x in ipps) and sum(x.startswith("00") for x in ipps) >= 40
    assert 0 < sum(r[11] is not None for r in data) < len(data)


def test_notes_plant_birth_dates_and_authors():
    import re

    none = many = runs = 0
    for k in range(400):
        lines, date, author = gen.note(1, f"x_{k}", 0)
        text = " ".join(lines)
        assert text.index(date) > text.index("Ne le ")  # birth date first
        none += author is None
        many += text.count("Dr ") > 2
        runs += bool(re.search(r"[a-z]Dr ", text))
    assert none and many and runs


def test_percentile_with_tail_leaves_ten_samples_above():
    xs = list(range(1000))
    assert percentile_with_tail(xs, 10) == 899  # p90
    assert sum(x > percentile_with_tail(xs, 10) for x in xs) == 100
    # too few samples for p90: falls back to the median
    ys = list(range(60))
    assert percentile_with_tail(ys, 10) == 29


def test_tracer_self_time_subtree_and_job_attribution():
    tr = Tracer()

    class Thing:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    tr.wrap(Thing, "outer", "outer")
    tr.wrap(Thing, "inner", "inner")
    assert Thing().outer() == 2
    tr.enabled = False
    assert Thing().outer() == 2  # untraced op: no spans
    tr.restore()
    assert Thing.__dict__["outer"].__name__ == "outer" and len(tr.spans) == 2
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"]
    assert tr.self_time(outer) == pytest.approx(tr.duration(outer) - tr.duration(inner))
    assert tr.subtree(outer) == {0, 1}
    jobs = [
        {"desc": "pb:1", "submit_ms": 0, "jobs": 1, "tasks": 3, "output_bytes": 10},
        {"desc": None, "submit_ms": tr.epoch_ms(inner["start"]) + 1e-6, "jobs": 1, "tasks": 1,
         "output_bytes": 5},
    ]
    for j in jobs:
        for k in ("failed_tasks", "executor_run_s", "gc_s", "shuffle_write_bytes",
                  "input_bytes", "spill_bytes"):
            j[k] = 0
    by_span = attribute_jobs(tr, jobs)
    assert [len(by_span.get(i, [])) for i in (0, 1)] == [0, 2]
    tot = spark_totals(tr, by_span, outer)
    assert tot["jobs"] == 2 and tot["tasks"] == 4 and tot["output_bytes"] == 15


def test_tracer_adopt_nests_worker_thread_spans_and_unions_overlap():
    tr = Tracer()

    class Store:
        def append(self):
            threading.Event().wait(0.05)

    tr.wrap(Store, "append", "append")
    with tr.span("op") as op:
        _side_by_side(tr, op, Store().append, Store().append)
    tr.restore()
    children = [s for s in tr.spans if s["parent"] == op["id"]]
    assert len(children) == 2 and tr.subtree(op) == {0, 1, 2}
    # the two appends overlap: self time is the op minus their union
    lo = min(c["start"] for c in children)
    hi = max(c["end"] for c in children)
    assert tr.self_time(op) == pytest.approx(tr.duration(op) - (hi - lo))


def test_overhead_compares_ops_of_one_kind():
    res = Result()
    assert res.overhead() is None
    for kind, traced, wall in [("edit", True, 12.0), ("edit", False, 10.0),
                               ("docs", True, 6.6), ("docs", False, 6.0)]:
        res.op_wall(kind, traced, wall)
    assert res.overhead() == pytest.approx(0.15)  # median of 1.2 and 1.1, minus 1


def test_benchmark_json_names_are_unique_and_workloads_known():
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert {w["name"] for w in SPEC["workloads"]} == set(WORKLOADS) == set(LAYERS)
    assert any(m["name"] == "setup_s" for m in SPEC["end_to_end"])


def test_every_per_layer_metric_belongs_to_a_workload():
    for m in SPEC["per_layer"]:
        assert any(m["name"].startswith(LAYERS[w]) for w in LAYERS), m["name"]


def test_missing_declared_metric_fails_the_run(monkeypatch, capsys):
    e2e = {m["name"]: 1.0 for m in SPEC["end_to_end"]}
    monkeypatch.setattr(run, "run", lambda *a: (Result(attempted=1), e2e, {}))
    assert run.main(["--workload", "cdw_ingest", "--seed", "1", "--seconds", "1"]) == 0
    assert json.loads(capsys.readouterr().out.splitlines()[-1])["correct"] is True
    del e2e["first_op_s"]
    assert run.main(["--workload", "cdw_ingest", "--seed", "1", "--seconds", "1"]) == 1
    assert capsys.readouterr().out == ""
    # traced: a layer the workload calls must be measured, others read 0
    layer = {m["name"]: 1.0 for m in SPEC["per_layer"] if m["name"].startswith(LAYERS["cdw_ingest"])}
    monkeypatch.setattr(run, "run", lambda *a: (Result(attempted=1), layer, {}))
    assert run.main(["--workload", "cdw_ingest", "--seed", "1", "--seconds", "1", "--trace", "1"]) == 0
    out = json.loads(capsys.readouterr().out.splitlines()[-1])["metrics"]
    assert out["ingest.delta_tick_s"]["value"] == 0.0 and out["merge.upsert_s"]["value"] == 1.0
    del layer["merge.upsert_s"]
    assert run.main(["--workload", "cdw_ingest", "--seed", "1", "--seconds", "1", "--trace", "1"]) == 1


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_declared_workload_emits_exactly_the_declared_metrics(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    declared = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == declared
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    elif workload == "curation_serving":
        assert out["metrics"]["ingest.corpus_files_read"]["value"] >= 1
        assert out["metrics"]["text.bootstrap_executor_s"]["value"] > 0
