"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import eventlog  # noqa: E402
import run  # noqa: E402
from workloads import END_TO_END, NOT_TIMED, WORKLOADS, all_keys, per_layer_metrics  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_headline_key_in_one_workload_or_listed_as_not_timed():
    import bench

    for key in bench.HEADLINE_KEYS:
        homes = [w for w, keys in WORKLOADS.items() if key in keys]
        assert len(homes) + (key in NOT_TIMED) == 1, f"{key}: {homes}"
    assert set(NOT_TIMED) <= set(bench.HEADLINE_KEYS)


def test_workload_keys_registered_with_oracles_and_modules():
    from token_burn_listener_spark.registry import ORACLES, QUERIES, load_all_modules

    load_all_modules()
    for key, module in all_keys().items():
        assert key in ORACLES, f"{key} has no oracle"
        assert QUERIES[key].__module__ == f"token_burn_listener_spark.{module}"


def test_benchmark_json_matches_the_code():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_metrics()
    assert all(len(m["name"]) <= 64 for m in spec["per_layer"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


@pytest.fixture(scope="module")
def workdir():
    """A scratch dir inside the checkout, removed afterwards."""
    d = os.path.join(ROOT, ".perfbench", f"tests-{os.getpid()}")
    os.makedirs(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_fixtures_hold_every_table_a_workload_reads():
    import pyarrow.parquet as pq

    from workloads import TABLES

    rows = {t: pq.ParquetFile(os.path.join(run.FIXTURES, f"{t}.parquet")).metadata.num_rows
            for tables in TABLES.values() for t in tables}
    assert rows["lineitem"] == 60_000 and rows["events"] == 10_000 and rows["documents"] == 500


class _FakeBench(run.Bench):
    """A Bench whose engine calls are stubbed: every key returns one row,
    and ``bad`` fails its oracle check in the warm-up pass."""

    bad = "q_agg_groupby"

    def start(self, event_log=False):
        self.listener = type("L", (), {"progress": [], "reset": lambda self: None})()
        self.runs_dir = os.path.join(self.work, "runs")
        self.jvm = None
        self.get_spark_s = 0.25

    def stop(self):
        pass

    def ingest(self):
        return {"ingest_s": 0.5, "scratch.replay_materialize_s": 0.0,
                "operators.storage.layout_build_s": 0.0, "operators.storage.layouts_cold": 0}

    def attach_layouts(self):
        return 0.1

    def warm_workers(self):
        return 0.0

    def layout_state(self):
        return {}

    def warmup_pass(self, oracle=True):
        self.pass_no += 1
        for key in self.keys:
            self.attempted += 1
            if key == self.bad:
                self.failed.append(key)
            else:
                self.expected[key] = run.fingerprint([(key,)])
        return 1.0

    def run_key(self, key, label, traced):
        return 0.01, 0.005, [(key,)], None

    def canary(self):
        return 0.5


def test_failed_key_still_prints_report_and_result(workdir, capsys):
    args = type("A", (), {"workload": "batch_analytics", "seed": 1, "seconds": 0, "trace": 0})()
    code = _FakeBench(args, workdir).run()
    lines = capsys.readouterr().out.strip().splitlines()
    assert code == 1
    report = json.loads(lines[-2][len("report "):])
    result = json.loads(lines[-1])
    assert report["failed_keys"] == [_FakeBench.bad]
    assert report["end_to_end"]["failed_frac"]["value"] > 0
    assert result["correct"] is False and result["failed"] == 1
    assert "pass_s" not in result["metrics"]  # no complete pass to time
    assert set(result["metrics"]) == {"setup_s"}
    assert "peak_rss_mb" in report["end_to_end"]


def test_tail_is_eleventh_largest():
    v = list(range(1, 41))
    t = run.tail(v)
    assert t["value"] == 30 and t["percentile"] == 75.0 and t["n"] == 40
    assert run.tail([3.0, 1.0, 2.0]) == {"value": 3.0, "percentile": 100.0, "n": 3}


def test_fingerprint_ignores_row_order():
    rows = [(1, "a"), (2, "b"), (3, None)]
    assert run.fingerprint(rows) == run.fingerprint(list(reversed(rows)))
    assert run.fingerprint(rows) != run.fingerprint(rows[:2])


@pytest.fixture(scope="module")
def tiny_log(workdir):
    """Event log of a 1000-row parquet scan and a 3-way repartition, from a
    session configured the way a traced run configures it."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession

    table = os.path.join(workdir, "t.parquet")
    pq.write_table(pa.table({"x": list(range(1000))}), table)
    run.configure_env(workdir, event_log=True)
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    df = spark.read.parquet(table)  # schema job: no group
    sc = spark.sparkContext
    sc.setJobGroup("scan", "scan")
    df.collect()
    sc.setJobGroup("shuffle", "shuffle")
    df.repartition(3).collect()
    spark.stop()
    logs = os.path.join(workdir, "eventlog")
    (name,) = os.listdir(logs)
    return eventlog.parse(os.path.join(logs, name))


def test_eventlog_stage_count_and_input_rows(tiny_log):
    scan = [s for s in tiny_log if s.group == "scan"]
    shuffle = [s for s in tiny_log if s.group == "shuffle"]
    assert len(scan) == 1 and len(shuffle) == 2
    assert scan[0].tasks == 1 and scan[0].input_rows == 1000
    assert sum(s.input_rows for s in shuffle) == 1000
    assert sorted(s.tasks for s in shuffle) == [1, 3]
    assert sum(s.shuffle_write_bytes for s in shuffle) > 0
    summary = eventlog.summarize(shuffle)
    assert summary["tasks"] == 4 and summary["input_rows"] == 1000
    assert summary["python_stage_s"] == 0


@pytest.mark.parametrize("steal, passes", [(0, 1), (10, 1 + run.MAX_EXTRA_PASSES)])
def test_extra_passes_only_while_every_pass_is_load_suspect(workdir, monkeypatch, steal, passes):
    ticks = iter(range(0, 10**6, 100))

    def fake_ticks():  # (steal, total) jiffies, ``steal`` of every 100 stolen
        t = next(ticks)
        return t * steal // 100, t

    monkeypatch.setattr(run, "cpu_ticks", fake_ticks)
    args = type("A", (), {"workload": "llm_corpus", "seed": 1, "seconds": 0, "trace": 0})()
    bench = _FakeBench(args, workdir)
    bench.start()
    bench.warmup_pass()
    assert len(bench.timed_passes(False, 1, 0)) == passes
