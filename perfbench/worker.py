"""One fresh interpreter of the benchmark: set up a session, run the
workload's first pass, its warm-up passes and its timed passes, and
print one JSON result line prefixed with `RESULT `.

    python3 perfbench/worker.py --workload W --seed N --work DIR
        --warmup K --passes N [--trace EVENTLOG_DIR]

Untraced, it only times whole passes. With `--trace` it turns on a
local uncompressed event log, puts every step of a pass into its own
job group, counts py4j round trips during query construction, forces
`executedPlan()` to read the Catalyst phase times, and records spans
(name, start, end, parent, run id) around each public call.

The module imports nothing heavy at the top: the import of pyspark and
the engine is part of the timed set-up.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import traceback
from pathlib import Path

T_START = time.perf_counter()

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA_DIR = HERE / "data" / "sf0.01"

# registry_mix: queries from four registry families, with the tables
# each reads (the traced run calls load_table on them directly).
REGISTRY_MIX = {
    "q5_supplier_volume": ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    "events_sessionize": ("events",),
    "dedup_ngram_jaccard": ("documents",),
    "user_behavior_features": ("events",),
}
# The CLI's session at M=2, R=2 (apd_map_reduce_spark/__main__.py).
CLI_M, CLI_R = 2, 2
CLI_CONF = {
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "10000",
    "spark.sql.files.maxPartitionBytes": f"{max(96 // CLI_M, 16)}m",
}


def eventlog_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": Path(log_dir).resolve().as_uri(),
        # Spark 4 writes zstd by default; plain JSON lines need no decoder.
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Spans and per-step job groups; every method is a no-op when off.

    A span opened with `py4j=True` records the py4j round trips made
    inside it: the gateway client's `send_command`, which every py4j
    call goes through, is wrapped with a counter."""

    def __init__(self, spark, on: bool, run_id: str):
        self.spark, self.on, self.run_id = spark, on, run_id
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.py4j_calls = 0
        self.counting = False
        if on:
            client = spark.sparkContext._gateway._gateway_client
            send = client.send_command

            def counted(*args, **kwargs):
                if self.counting:
                    self.py4j_calls += 1
                return send(*args, **kwargs)

            client.send_command = counted

    def span(self, name: str, group: str | None = None, py4j: bool = False, **attrs):
        return _Span(self, name, group, py4j, attrs)


class _Span:
    def __init__(self, tracer: Tracer, name: str, group: str | None, py4j: bool, attrs: dict):
        self.t, self.name, self.group, self.py4j, self.attrs = tracer, name, group, py4j, attrs

    def __enter__(self):
        t = self.t
        if t.on:
            if self.group:
                t.spark.sparkContext.setJobGroup(self.group, self.name)
            self.idx = len(t.spans)
            t.spans.append({
                "name": self.name, "start": time.time(), "end": None,
                "parent": t.stack[-1] if t.stack else None, "run": t.run_id,
                "group": self.group, **self.attrs,
            })
            t.stack.append(self.idx)
            self.calls0 = t.py4j_calls
            t.counting = self.py4j
        return self

    def __exit__(self, *exc):
        t = self.t
        if t.on:
            t.counting = False
            rec = t.spans[self.idx]
            rec["end"] = time.time()
            if self.py4j:
                rec["py4j_calls"] = t.py4j_calls - self.calls0
            t.stack.pop()
            if self.group:
                t.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return False


def invindex_pass(spark, tracer: Tracer, tag: str, manifest: str, out_dir: str) -> dict:
    """parse_manifest -> read_corpus -> inverted_index -> write_letter_files."""
    from apd_map_reduce_spark.operators.invindex import (
        format_rows,
        inverted_index,
        write_letter_files,
    )
    from apd_map_reduce_spark.sources.manifest import (
        MANIFEST_SCHEMA,
        parse_manifest,
        read_corpus,
    )

    with tracer.span("sources.read_corpus", f"{tag}:load"):
        rows = parse_manifest(manifest)
        man = spark.createDataFrame(rows, MANIFEST_SCHEMA)
        corpus = read_corpus(spark, man, paths=[p for _, p in rows])
    with tracer.span("queries.build", f"{tag}:build", py4j=True, query="inverted_index"):
        index = inverted_index(corpus)
    if tracer.on:
        with tracer.span("plans", f"{tag}:plan", query="inverted_index"):
            plan_stats(index, tracer, "inverted_index")
    with tracer.span("sinks.write_letter_files", f"{tag}:exec", query="inverted_index"):
        write_letter_files(index, out_dir)
    return {"index": index, "format_rows": format_rows}


def registry_pass(spark, tracer: Tracer, tag: str, order: list[str], collect: bool) -> dict:
    """Build and run each query; noop sink, or toPandas when `collect`."""
    from apd_map_reduce_spark.registry import QUERY_INDEX
    from apd_map_reduce_spark.session import release_caches
    from apd_map_reduce_spark.sources.tables import load_table

    sf_dir = str(DATA_DIR)
    results, errors, walls = {}, {}, {}
    for name in order:
        t0 = time.time()
        try:
            if tracer.on:
                with tracer.span("sources.load_table", f"{tag}:{name}:load", query=name):
                    for t in REGISTRY_MIX[name]:
                        load_table(spark, sf_dir, t)
            with tracer.span("queries.build", f"{tag}:{name}:build", py4j=True, query=name):
                df = QUERY_INDEX[name].fn(spark, sf_dir)
            if tracer.on:
                with tracer.span("plans", f"{tag}:{name}:plan", query=name):
                    plan_stats(df, tracer, name)
            with tracer.span("operators.exec", f"{tag}:{name}:exec", query=name):
                if collect:
                    results[name] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
            errors[name] = traceback.format_exc(limit=3)
        finally:
            release_caches(spark)
            walls[name] = time.time() - t0
    return {"results": results, "errors": errors, "walls": walls}


def plan_stats(df, tracer: Tracer, name: str) -> None:
    """Force the physical plan; record Catalyst phase times and exchanges."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()
    rec = {"query": name, "exchanges": sum(
        1 for ln in plan.splitlines() if "Exchange " in ln and "Reused" not in ln
    )}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        rec[f"{ph}_ms"] = opt.get().durationMs() if opt.isDefined() else 0
    tracer.spans[tracer.stack[-1]].update(rec)


def compare_letters(out_dir: str, golden_dir: str) -> bool:
    from corpus import ALPHABET

    return all(
        Path(out_dir, f"{c}.txt").read_bytes() == Path(golden_dir, f"{c}.txt").read_bytes()
        for c in ALPHABET
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, help="invindex_files, or registry_mix")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--warmup", type=int, required=True, help="untimed passes after the first")
    ap.add_argument("--passes", type=int, required=True, help="timed passes after the warm-up")
    ap.add_argument("--trace", default=None, help="event log directory")
    args = ap.parse_args()
    work = Path(args.work)
    cpus = len(os.sched_getaffinity(0))

    # Set-up imports what the passes use, as the CLI and bench.py do.
    from apd_map_reduce_spark.session import get_spark

    if args.workload == "invindex_files":
        import apd_map_reduce_spark.operators.invindex  # noqa: F401
        import apd_map_reduce_spark.sources.manifest  # noqa: F401

        kw = {"master": f"local[{CLI_M + CLI_R}]", "shuffle_partitions": CLI_R, "extra_conf": dict(CLI_CONF)}
    else:
        import apd_map_reduce_spark.registry  # noqa: F401

        kw = {"master": f"local[{cpus}]", "shuffle_partitions": cpus, "extra_conf": {}}
    if args.trace:
        kw["extra_conf"].update(eventlog_conf(args.trace))
    t_imported = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", **kw)
    t_ready = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    res = {
        "import_s": t_imported - T_START,
        "get_spark_s": t_ready - t_imported,
        "attempted": 0,
        "failed": 0,
        "problems": [],
    }
    tracer = Tracer(spark, args.trace is not None, f"{args.workload}-{args.seed}")
    rng = random.Random(args.seed)
    passes: list[dict] = []
    collected: dict = {}  # first-pass outputs of the registry queries

    def fail(msg: str) -> None:
        res["failed"] += 1
        res["problems"].append(msg)

    def one_pass(i: int) -> None:
        tag = f"p{i}"
        if args.workload == "invindex_files":
            out_dir = str(work / "out")
            res["attempted"] += 1
            t0 = time.time()
            try:
                with tracer.span("pass", None, index=i):
                    got = invindex_pass(spark, tracer, tag, str(work / "corpus" / "manifest.txt"), out_dir)
                dt = time.time() - t0
            except Exception:  # noqa: BLE001
                fail(f"{tag}: " + traceback.format_exc(limit=3))
                return
            passes.append({"index": i, "timed": i > args.warmup, "start": t0, "wall_s": dt})
            if not compare_letters(out_dir, str(work / "golden")):
                fail(f"{tag}: sink output differs from the golden")
            if tracer.on:
                # The sink's own cost: the same index through format_rows
                # into the noop sink, outside the pass window.
                with tracer.span("sinks.noop_format_rows", f"x{i}:noopfmt"):
                    got["format_rows"](got["index"]).write.format("noop").mode("overwrite").save()
                passes[-1]["output_bytes"] = sum(
                    f.stat().st_size for f in Path(out_dir).glob("*.txt"))
        else:
            order = list(REGISTRY_MIX)
            rng.shuffle(order)
            collect = i == 0
            res["attempted"] += len(order)
            t0 = time.time()
            with tracer.span("pass", None, index=i):
                got = registry_pass(spark, tracer, tag, order, collect)
            dt = time.time() - t0
            for name, err in got["errors"].items():
                fail(f"{tag}:{name}: {err}")
            if not got["errors"]:
                passes.append({"index": i, "timed": i > args.warmup, "start": t0, "wall_s": dt,
                               "order": order, "queries": got["walls"]})
            if collect:
                collected.update(got["results"])

    for i in range(1 + args.warmup + args.passes):
        one_pass(i)
    res["passes"] = passes
    res["spans"] = tracer.spans
    # Stopping first completes the event log, and keeps the DuckDB
    # check below out of the session's memory peak.
    spark.stop()
    if collected:
        from oracle import problems

        for name, found in problems(collected, DATA_DIR).items():
            fail(f"p0:{name}: oracle mismatch: {found[:3]}")
    print("RESULT " + json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
