"""Tests of the benchmark itself: seeded inputs, metric names and output
checks. Run from the repository root:

    python3 -m pytest perfbench/tests -q

``test_job_parity`` runs a Spark session and spark-submit (~2 minutes).
"""
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

import gen
import run
import workloads
from conftest import BENCH

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _digest(path):
    h = hashlib.sha256()
    for d, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.fixture
def small_sizes(monkeypatch):
    monkeypatch.setitem(gen.SIZES, "ingest",
                        {"rows": 300, "earlier_rows": 400, "overlap": 0.5})
    monkeypatch.setitem(gen.SIZES, "dedup",
                        dict(gen.SIZES["dedup"], prior=200, rows=200))


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_generator_is_deterministic(tmp_path, small_sizes, workload):
    a = gen.ensure_inputs(str(tmp_path / "a"), workload, 7)
    b = gen.ensure_inputs(str(tmp_path / "b"), workload, 7)
    c = gen.ensure_inputs(str(tmp_path / "c"), workload, 8)
    assert _digest(a["path"]) == _digest(b["path"])
    assert _digest(a["base"]) == _digest(b["base"])
    assert _digest(a["path"]) != _digest(c["path"])
    # the base (earlier dump / prior corpus) does not depend on the seed
    assert _digest(a["base"]) == _digest(c["base"])


def test_ingest_recrawls_half_of_the_earlier_dump(tmp_path, small_sizes):
    import pyarrow.parquet as pq

    got = gen.ensure_inputs(str(tmp_path), "ingest", 3)
    cur = set(pq.read_table(os.path.join(got["path"], "pages"))["url"].to_pylist())
    old = set(pq.read_table(os.path.join(got["base"], "earlier"))["url"].to_pylist())
    assert len(cur) == 300
    assert len(cur & old) == got["meta"]["n_overlap"] == 150


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def _oracle_sample():
    from pdf2doi_spark.pages import build_page

    rows = {}
    for doc_id in (16 * 5 + 0, 16 * 5 + 5, 16 * 5 + 14):  # meta, text, miss
        url, _ts, html, text = build_page(doc_id, "some words here", "en", "web")
        rows[url] = workloads.oracle_row(url, html, text)
    return rows


def test_extract_oracle_matches_itself_and_rejects_a_corrupted_row():
    expected = _oracle_sample()
    observed = {u: dict(r) for u, r in expected.items()}
    assert workloads.diff_rows(observed, expected) == []
    url = sorted(observed)[0]
    observed[url]["identifier"] = "10.9999/corrupt"
    assert workloads.diff_rows(observed, expected)
    del observed[url]
    assert any("missing" in f for f in workloads.diff_rows(observed, expected))


def _good_ingest(**override):
    expected = _oracle_sample()
    args = dict(n_in=100, manifest_docs=100,
                shard_files={f"shard={i}": 1 for i in range(workloads.N_SHARDS)},
                cache_rows=80, cache_urls=80, metrics_docs=100,
                observed={u: dict(r) for u, r in expected.items()},
                expected=expected)
    args.update(override)
    return workloads.check_ingest(**args)


def test_ingest_check_counts_each_corruption_as_a_failure():
    assert _good_ingest() == []
    assert _good_ingest(manifest_docs=99)
    assert _good_ingest(metrics_docs=101)
    assert _good_ingest(cache_rows=81)
    assert _good_ingest(shard_files={"shard=0": 2})
    files = {f"shard={i}": 1 for i in range(workloads.N_SHARDS)}
    files["shard=3"] = 2
    assert _good_ingest(shard_files=files)


def test_dedup_check_and_quality():
    assert workloads.check_dedup(100, 50, 5, 145) == []
    assert workloads.check_dedup(100, 50, 5, 150)
    pairs = [["index", "d1", "p1"], ["batch", "d2", "d3"]]
    assert workloads.dup_quality(pairs, {"d1", "d3"}) == (1.0, 1.0)
    assert workloads.dup_quality(pairs, {"d1", "x"}) == (0.5, 0.5)
    assert workloads.dup_quality(pairs, set()) == (0.0, 1.0)


class _FakeWorkload(workloads.Workload):
    """Passes whose output check fails on the first pass — as a corrupted
    output would."""

    name = "fake"

    def input_path(self):
        return self.inputs["path"]

    def fixtures_missing(self):
        return False

    def prepare(self):
        self.k = 0

    def layout(self, spark):
        return {"sources.tasks": 1, "sources.rows_per_task": self.n_rows}

    def run_pass(self, spark, tr, pass_dir, meter):
        self.k += 1
        with meter() as m:
            pass
        return workloads.PassResult(max(m.seconds, 1e-6), self.n_rows, 1.0,
                                    1.0, ["corrupted"] if self.k == 1 else [])


def test_a_corrupted_pass_output_fails_the_run(tmp_path, monkeypatch, capsys):
    monkeypatch.setitem(workloads.WORKLOADS, "fake", _FakeWorkload)
    monkeypatch.setattr(gen, "ensure_inputs", lambda *a: {
        "path": str(tmp_path), "meta": {"rows": 10}})
    monkeypatch.setattr(run, "WORK", str(tmp_path / "work"))
    monkeypatch.setattr(run, "_setup", lambda cores, tr: (None, 0.1, 0.1))
    monkeypatch.setattr(run, "_shutdown", lambda spark: None)
    assert run.main(["--workload", "fake", "--seed", "1", "--seconds", "0",
                     "--trace", "0"]) == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # --seconds 0 still times one pass
    assert result["attempted"] == 1
    assert result["correct"] is False
    assert result["failed"] == 1
    assert result["metrics"]["ok_rate"]["value"] == 0.0


def test_span_self_time_excludes_children(monkeypatch):
    import spans

    clock = iter([0.0, 1.0, 3.0, 10.0])
    monkeypatch.setattr(spans.time, "perf_counter", lambda: next(clock))
    tr = spans.Tracer("t", True)
    with tr.span("pass"):
        with tr.span("layer"):
            pass
    assert tr.spans[1]["parent"] == tr.spans[0]["id"]
    assert tr.self_times() == {"pass": 8.0, "layer": 2.0}


def test_tree_cpu_counts_a_reaped_child():
    # docs_per_cpu_s relies on this: Python workers that end mid-pass are
    # reaped by the daemon, and their time moves to its cutime/cstime
    before = run._tree_cpu(os.getpid())
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"], check=True)
    assert run._tree_cpu(os.getpid()) - before >= 0.4


def test_run_refuses_a_directory_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_job_parity():
    proc = subprocess.run([sys.executable, os.path.join(BENCH, "parity.py"),
                           "--seed", "1"], capture_output=True, text=True,
                          timeout=900)
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1])["parity"]
