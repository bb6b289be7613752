"""Benchmark command for the engine; see perfbench/README.md.

    python3 perfbench/run.py --workload {invindex_files,registry_mix}
        --seed N --seconds S --trace {0,1}

Run from the repository root. Each run makes its inputs from the seed,
runs the workload in fresh worker processes (perfbench/worker.py),
checks the outputs, prints a readable summary on stderr and, as the
last line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run plus the tracing overhead. All files the run
makes live under perfbench/.work/.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# Untimed warm-up passes after the first pass, per workload: warm passes
# keep getting faster while the JIT compiles: the process tree's CPU time
# per pass falls steeply for three passes of invindex_files and two of
# registry_mix, then slowly. Timing that steep part made wall_s swing.
WARMUP_PASSES = {"invindex_files": 3, "registry_mix": 2}
# Nominal timed-pass time per workload on a 4-core box. A run times
# ceil(--seconds / nominal) passes after the warm-up: a fixed amount of
# work, so that a faster program gets the same number of samples, not
# more. A traced run times half as many, to stay within the deadline.
NOMINAL_PASS_S = {"invindex_files": 3.0, "registry_mix": 4.0}
WORKLOADS = tuple(NOMINAL_PASS_S)
DEADLINE_S = 170  # the whole run, every subprocess included
MB = 1024 * 1024
PAGE = os.sysconf("SC_PAGE_SIZE")
TICKS = os.sysconf("SC_CLK_TCK")

END_TO_END_UNITS = {
    "setup_s": "s",
    "first_pass_s": "s",
    "wall_s": "s",
    "ok_frac": "ratio",
}
LAYER_UNITS = {
    "session.import_s": "s",
    "session.get_spark_s": "s",
    "sources.load_table_s": "s",
    "sources.load_table_jobs": "count",
    "sources.read_corpus_s": "s",
    "sources.input_mb": "MB",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_py4j_calls": "count",
    "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "plans.exchanges": "count",
    "operators.exec_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.failed_tasks": "count",
    "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_write_mb": "MB",
    "operators.shuffle_read_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.task_skew": "ratio",
    "operators.python_data_mb": "MB",
    "driver.no_stage_s": "s",
    "driver.peak_rss_mb": "MB",
    "sinks.write_s": "s",
    "sinks.output_mb": "MB",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


class RunError(Exception):
    pass


def _procs() -> dict[int, tuple[str, int, int, int, int]]:
    """pid -> (state, parent pid, process group, start time in clock
    ticks since boot, RSS bytes), from /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                raw = Path(f"/proc/{d}/stat").read_text()
            except OSError:
                continue
            f = raw[raw.rindex(")") + 2 :].split()
            out[int(d)] = (f[0], int(f[1]), int(f[2]), int(f[19]), int(f[21]) * PAGE)
    return out


def tree_rss(root: int) -> int:
    """Summed RSS of `root` and all its descendants older than a second.

    The JVM's spawns live for milliseconds (Hadoop shells out to `chmod`
    for every file it writes), and until one has exec'd, /proc reports
    the whole JVM's RSS for it. Counting them made a sample read two or
    three JVMs."""
    procs = _procs()
    born_before = float(Path("/proc/uptime").read_text().split()[0]) * TICKS - TICKS
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            if pid == root or procs[pid][3] <= born_before:
                total += procs[pid][4]
            todo.extend(p for p, v in procs.items() if v[1] == pid)
    return total


def _group_alive(pgid: int) -> bool:
    """Whether any process of the group is still running (zombies,
    which hold no memory and do no work, do not count)."""
    return any(v[0] != "Z" and v[2] == pgid for v in _procs().values())


def run_worker(args: list[str], env: dict, log: Path, deadline: float, poll_rss: bool = False) -> dict:
    """Run perfbench/worker.py in its own process group until it prints
    its RESULT line, then stop the whole group. Returns the record, with
    the peak RSS of the process tree when `poll_rss`."""
    cmd = [sys.executable, str(HERE / "worker.py"), *args]
    with open(log, "ab") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, env=env, cwd=ROOT, start_new_session=True)
        result: list[str] = []
        done = threading.Event()
        peak = [0]

        def read() -> None:
            for raw in proc.stdout:
                line = raw.decode(errors="replace")
                if line.startswith("RESULT "):
                    result.append(line[len("RESULT ") :])
                    done.set()
            done.set()

        def poll() -> None:
            while not done.is_set():
                peak[0] = max(peak[0], tree_rss(proc.pid))
                done.wait(0.1)

        threads = [threading.Thread(target=read, daemon=True)]
        if poll_rss:
            threads.append(threading.Thread(target=poll, daemon=True))
        for t in threads:
            t.start()
        try:
            done.wait(max(1.0, deadline - time.monotonic()))
        finally:
            done.set()
            _kill_group(proc)
        for t in threads:
            t.join()
    if not result:
        raise RunError(f"worker {' '.join(args[:2])} exited with {proc.returncode} and no result; see {log}")
    res = json.loads(result[-1])
    res["peak_rss_bytes"] = peak[0]
    return res


def _kill_group(proc: subprocess.Popen) -> None:
    """Stop the worker, its JVM and its Python workers, and wait for them."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        t_end = time.monotonic() + 10
        while time.monotonic() < t_end:
            if proc.poll() is not None and not _group_alive(proc.pid):
                break
            time.sleep(0.05)
        else:
            continue
        break
    proc.wait()


def prepare_inputs(workload: str, seed: int, work: Path) -> None:
    if workload == "invindex_files":
        from corpus import generate, golden

        files = generate(work / "corpus", seed)
        gold = work / "golden"
        gold.mkdir()
        for ch, data in golden(files).items():
            (gold / f"{ch}.txt").write_bytes(data)


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def layer_metrics(traced: dict, untraced: dict, log_dir: Path) -> tuple[dict, dict]:
    """Per-layer medians over the traced timed passes, and the trace
    record (spans plus per-pass and per-query totals)."""
    import eventlog

    logs = [p for p in log_dir.iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RunError(f"expected one event log in {log_dir}, found {len(logs)}")
    log = eventlog.parse(logs[0])
    spans = traced["spans"]
    per_pass, per_query = [], []
    for p in traced["passes"]:
        i = p["index"]
        pre = f"p{i}:"
        mine = [s for s in spans if (s.get("group") or "").startswith(pre)]

        def total(name: str, key=None) -> float:
            return sum((s.get(key, 0) if key else _dur(s)) for s in mine if s["name"] == name)

        def jobs(name: str) -> int:
            return sum(eventlog.job_count(log, s["group"]) for s in mine if s["name"] == name)

        noop = [s for s in spans if s.get("group") == f"x{i}:noopfmt"]
        write = total("sinks.write_letter_files")
        m = {
            "sources.load_table_s": total("sources.load_table"),
            "sources.load_table_jobs": jobs("sources.load_table"),
            "sources.read_corpus_s": total("sources.read_corpus"),
            "queries.build_s": total("queries.build"),
            "queries.build_jobs": jobs("queries.build"),
            "queries.build_py4j_calls": total("queries.build", "py4j_calls"),
            "plans.analysis_ms": total("plans", "analysis_ms"),
            "plans.optimization_ms": total("plans", "optimization_ms"),
            "plans.planning_ms": total("plans", "planning_ms"),
            "plans.exchanges": total("plans", "exchanges"),
            "operators.exec_s": total("operators.exec") + write,
            "sinks.write_s": write - sum(_dur(s) for s in noop) if noop else 0.0,
            "sinks.output_mb": p.get("output_bytes", 0) / MB,
        }
        window = (p["start"] * 1e3, (p["start"] + p["wall_s"]) * 1e3)
        m.update(eventlog.totals(log, pre, window))
        per_pass.append({"index": i, "timed": p["timed"], "wall_s": p["wall_s"], **m})
        for q in p.get("order", []):
            qs = [s for s in mine if s.get("query") == q]
            qwin = (min(s["start"] for s in qs) * 1e3, max(s["end"] for s in qs) * 1e3)
            per_query.append({
                "pass": i, "query": q,
                **{f"{s['name']}_s": _dur(s) for s in qs},
                **{k: s[k] for s in qs for k in ("py4j_calls", "exchanges", "analysis_ms",
                                                   "optimization_ms", "planning_ms") if k in s},
                **eventlog.totals(log, f"{pre}{q}:", qwin),
            })
    warm = [m for m in per_pass if m["timed"]]
    metrics = {k: statistics.median(m[k] for m in warm) for k in LAYER_UNITS if k in warm[0]}
    metrics["session.import_s"] = traced["import_s"]
    metrics["session.get_spark_s"] = traced["get_spark_s"]
    metrics["driver.peak_rss_mb"] = untraced["peak_rss_bytes"] / MB
    metrics["trace.wall_s"] = warm_wall(traced)
    metrics["trace.overhead_s"] = warm_wall(traced) - warm_wall(untraced)
    record = {"spans": spans, "passes": per_pass, "queries": per_query,
              "untraced_passes": untraced["passes"]}
    return metrics, record


def warm_wall(res: dict) -> float:
    warm = [p["wall_s"] for p in res["passes"] if p["timed"]]
    if not warm:
        raise RunError("no timed pass completed")
    return statistics.median(warm)


def first_pass(res: dict) -> float:
    first = [p["wall_s"] for p in res["passes"] if p["index"] == 0]
    if not first:
        raise RunError("the first pass did not complete")
    return first[0]


def _stop(signum, frame):
    # Turn SIGTERM/SIGHUP into an exception, so that the worker's process
    # group is stopped and the work directory removed on the way out.
    raise SystemExit(128 + signum)


def main() -> int:
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _stop)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S

    missing = [p for p in ("apd_map_reduce_spark/__init__.py", "scripts/check_oracle.py") if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: engine sources not found next to {HERE.name}/: {missing}", file=sys.stderr)
        return 2

    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cpus = len(os.sched_getaffinity(0))
    env = {
        **os.environ,
        # Python workers import the engine (pandas UDFs) from the checkout.
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "SPARK_GRAFT_CPUS": str(cpus),
        # Under the session's default 8 GB heap, G1 kept growing the heap
        # and warm passes kept getting faster through the tenth pass. The
        # workloads need far less, and the host's memory is shared.
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
    }
    passes = math.ceil(args.seconds / NOMINAL_PASS_S[args.workload])
    if args.trace:
        passes = math.ceil(passes / 2)
    base = ["--workload", args.workload, "--seed", str(args.seed), "--work", str(work),
            "--warmup", str(WARMUP_PASSES[args.workload]), "--passes", str(passes)]
    log = work / "workers.log"
    try:
        prepare_inputs(args.workload, args.seed, work)
        if args.trace == 0:
            main_res = run_worker(base, env, log, deadline)
            results = [main_res]
            metrics = {
                "setup_s": main_res["import_s"] + main_res["get_spark_s"],
                "first_pass_s": first_pass(main_res),
                "wall_s": warm_wall(main_res),
            }
            units = END_TO_END_UNITS
        else:
            untraced = run_worker(base, env, log, deadline, poll_rss=True)
            (work / "eventlog").mkdir()
            traced = run_worker([*base, "--trace", str(work / "eventlog")], env, log, deadline)
            results = [untraced, traced]
            metrics, record = layer_metrics(traced, untraced, work / "eventlog")
            units = LAYER_UNITS
            trace_file = HERE / ".work" / f"trace-{args.workload}-seed{args.seed}.json"
            trace_file.write_text(json.dumps(record, indent=1))
    except RunError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        if log.exists():
            sys.stderr.write(log.read_text(errors="replace")[-4000:])
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    problems = [msg for r in results for msg in r["problems"]]
    attempted = sum(r["attempted"] for r in results)
    failed = len(problems)
    if args.trace == 0:
        metrics["ok_frac"] = 1 - failed / attempted

    passes = [p["wall_s"] for p in results[-1]["passes"] if p["timed"]]
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} local[{cpus}]", file=sys.stderr)
    print(f"  timed passes: {len(passes)} ({', '.join(f'{w:.3f}' for w in passes)} s)", file=sys.stderr)
    print(f"  failed/attempted: {failed}/{attempted}", file=sys.stderr)
    for p in results[-1]["passes"]:
        if "queries" in p:
            print(f"  pass {p['index']}: " + ", ".join(f"{q} {w:.3f}" for q, w in p["queries"].items()), file=sys.stderr)
    for msg in problems:
        print(f"  FAIL {msg}", file=sys.stderr)
    for k, v in metrics.items():
        print(f"  {k:28s} {v:12.4f} {units[k]}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
