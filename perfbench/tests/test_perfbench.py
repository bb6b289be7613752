"""The benchmark's own tests: golden, generator, event-log parser and
the metric names it prints.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import corpus  # noqa: E402
import eventlog  # noqa: E402
import run  # noqa: E402

F4_FILES = {
    1: "The bright sun shines in the blue sky as birds are singing today.",
    2: "This calm morning, the sky is blue, and gentle clouds float by.",
    3: "In the peaceful evening, the stars shine brightly in the quiet sky.",
}
F4_GOLDEN = {
    "a": "and:[2] / are:[1] / as:[1]",
    "b": "blue:[1 2] / birds:[1] / bright:[1] / brightly:[3] / by:[2]",
    "c": "calm:[2] / clouds:[2]",
    "e": "evening:[3]",
    "f": "float:[2]",
    "g": "gentle:[2]",
    "i": "in:[1 3] / is:[2]",
    "m": "morning:[2]",
    "p": "peaceful:[3]",
    "q": "quiet:[3]",
    "s": "sky:[1 2 3] / shine:[3] / shines:[1] / singing:[1] / stars:[3] / sun:[1]",
    "t": "the:[1 2 3] / this:[2] / today:[1]",
}


def test_golden_reproduces_fixture_f4(tmp_path):
    files = []
    for fid, text in F4_FILES.items():
        p = tmp_path / f"file{fid}.txt"
        p.write_text(text + "\n")
        files.append((fid, str(p)))
    got = corpus.golden(files)
    assert set(got) == set(corpus.ALPHABET)
    for ch in corpus.ALPHABET:
        want = "".join(f"{row}\n" for row in F4_GOLDEN[ch].split(" / ")) if ch in F4_GOLDEN else ""
        assert got[ch] == want.encode(), ch


def test_golden_normalizes_f2_corner_tokens(tmp_path):
    p = tmp_path / "f.txt"
    p.write_text("Don't look-out\tfoo123 1842\n  XIII a x naïve -- —\n")
    got = corpus.golden([(7, str(p))])
    lines = {ln for data in got.values() for ln in data.decode().splitlines()}
    assert lines == {f"{w}:[7]" for w in ("dont", "lookout", "foo", "xiii", "a", "x", "nave")}


def test_generator_is_deterministic_per_seed(tmp_path):
    a = corpus.generate(tmp_path / "a", seed=5, scale=0.02)
    b = corpus.generate(tmp_path / "b", seed=5, scale=0.02)
    c = corpus.generate(tmp_path / "c", seed=6, scale=0.02)
    read = lambda files: [Path(p).read_bytes() for _, p in files]  # noqa: E731
    assert len(a) == corpus.FILES
    assert read(a) == read(b)
    assert read(a) != read(c)
    manifest = (tmp_path / "a" / "manifest.txt").read_text().split("\n")
    assert manifest[0] == str(corpus.FILES) and manifest[1] == a[0][1]


def test_generator_has_the_reference_letter_skew(tmp_path):
    files = corpus.generate(tmp_path / "g", seed=1, scale=0.3)
    per_letter = {ch: data.count(b"\n") for ch, data in corpus.golden(files).items()}
    heavy = sorted(per_letter, key=per_letter.get, reverse=True)[:5]
    assert set(heavy) == {"s", "c", "p", "b", "d"}
    assert per_letter["s"] > 50 * per_letter["z"] > 0


def test_covered_ms_merges_and_clips():
    iv = [(0, 10), (5, 20), (30, 40), (35, 38), (50, 60)]
    assert eventlog.covered_ms(iv, 0, 100) == 40
    assert eventlog.covered_ms(iv, 8, 55) == 12 + 10 + 5


@pytest.fixture(scope="module")
def tiny_event_log(tmp_path_factory):
    """A tiny local Spark run with an uncompressed event log: one
    grouped job, one pandas UDF job and one job outside any group."""
    sys.path.insert(0, str(ROOT))
    from pyspark.sql import functions as F

    from apd_map_reduce_spark.session import get_spark
    import worker

    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = get_spark(
        app_name="perfbench-test", master="local[2]", shuffle_partitions=2,
        extra_conf=worker.eventlog_conf(str(log_dir)),
    )
    sc = spark.sparkContext
    df = spark.range(0, 2000, numPartitions=4).withColumn("k", F.col("id") % 7)
    sc.setJobGroup("t1:agg", "agg")
    df.groupBy("k").count().collect()
    sc.setJobGroup("t1:udf", "udf")
    df.mapInPandas(lambda it: (b[["id"]] for b in it), "id long").collect()
    sc.setLocalProperty("spark.jobGroup.id", None)
    df.count()
    spark.stop()
    (path,) = [p for p in log_dir.iterdir() if p.is_file()]
    return eventlog.parse(path)


def test_eventlog_parser_reads_a_tiny_local_run(tiny_event_log):
    log = tiny_event_log
    assert eventlog.job_count(log, "t1:agg") >= 1
    assert eventlog.job_count(log, "t1:udf") >= 1
    t = eventlog.totals(log, "t1:", (0, 1e15))
    assert t["operators.jobs"] == eventlog.job_count(log, "t1:agg") + eventlog.job_count(log, "t1:udf")
    assert t["operators.stages"] >= 3 and t["operators.tasks"] >= 4
    assert t["operators.failed_tasks"] == 0
    assert t["operators.shuffle_write_mb"] > 0 and t["operators.shuffle_read_mb"] > 0
    assert t["operators.executor_run_s"] > 0 and t["operators.task_skew"] >= 1
    assert t["operators.python_data_mb"] > 0
    assert eventlog.totals(log, "t1:agg", (0, 1e15))["operators.python_data_mb"] == 0
    assert len(log.job_group) > t["operators.jobs"]  # the ungrouped count() job


def _benchmark_json() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_printed_metric_names_are_in_benchmark_json():
    bench = _benchmark_json()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER_UNITS
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def test_layer_metrics_fill_every_per_layer_name(tmp_path):
    """layer_metrics over a synthetic traced record emits exactly the
    per_layer names of BENCHMARK.json."""
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    (log_dir / "app").write_text("")
    spans = [
        {"name": "queries.build", "group": "p1:q:build", "start": 1.0, "end": 1.5, "py4j_calls": 40},
        {"name": "plans", "group": "p1:q:plan", "start": 1.5, "end": 1.6, "exchanges": 2,
         "analysis_ms": 3, "optimization_ms": 4, "planning_ms": 5},
        {"name": "operators.exec", "group": "p1:q:exec", "start": 1.6, "end": 3.0, "query": "q"},
    ]
    passes = [{"index": 0, "timed": False, "start": 0.0, "wall_s": 1.0},
              {"index": 1, "timed": True, "start": 1.0, "wall_s": 2.0}]
    traced = {"import_s": 0.5, "get_spark_s": 5.0, "spans": spans, "passes": passes}
    untraced = {"passes": [{"index": 1, "timed": True, "start": 0.0, "wall_s": 1.9}], "peak_rss_bytes": 3 * 2**20}
    metrics, record = run.layer_metrics(traced, untraced, log_dir)
    assert set(metrics) == {m["name"] for m in _benchmark_json()["per_layer"]}
    assert metrics["queries.build_py4j_calls"] == 40
    assert metrics["trace.overhead_s"] == pytest.approx(0.1)
    assert metrics["driver.peak_rss_mb"] == 3


def test_tree_rss_skips_the_jvms_short_lived_spawns(monkeypatch):
    mb, old, new = 2**20, 0, 10**12
    procs = {
        10: ("S", 1, 10, old, 50 * mb),  # the Python driver
        11: ("S", 10, 10, old, 1500 * mb),  # its JVM
        12: ("R", 11, 10, new, 1500 * mb),  # a JVM spawn before exec
        13: ("S", 11, 10, old, 60 * mb),  # a Python worker
        20: ("S", 1, 20, old, 1500 * mb),  # not in the tree
    }
    monkeypatch.setattr(run, "_procs", lambda: procs)
    assert run.tree_rss(10) == (50 + 1500 + 60) * mb


def test_command_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    command exits non-zero and prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "registry_mix", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60, env=env,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_oracle_check_flags_a_wrong_output():
    """The registry check passes the oracle's own rows and fails them
    once a single value is changed."""
    sys.path.insert(0, str(ROOT))
    import duckdb

    import oracle
    import worker
    from apd_map_reduce_spark.registry import QUERY_INDEX

    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{worker.DATA_DIR / 'events.parquet'}'")
        good = con.execute(QUERY_INDEX["events_sessionize"].oracle).df()
    assert len(good) > 0
    assert oracle.problems({"events_sessionize": good}, worker.DATA_DIR) == {}
    bad = good.copy()
    col = bad.columns[-1]
    bad.loc[0, col] = bad.loc[1, col] if bad.loc[0, col] != bad.loc[1, col] else None
    assert "events_sessionize" in oracle.problems({"events_sessionize": bad}, worker.DATA_DIR)
