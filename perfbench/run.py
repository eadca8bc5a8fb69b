"""Closed-loop benchmark of the engine: one client, one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The inputs are the repository's sf0.01
fixture tables (seed 42, see TESTDATA.md), kept as byte copies in
``perfbench/fixtures/sf0.01``; ``--seed`` permutes the order in which each
pass runs the keys. The run starts a ``local[nproc]`` session, reads the
fixture footers and cold-builds the workload's replay copy or bucketed
layouts, attaches the layouts three times, forks the Python workers, runs
one untimed warm-up pass whose results are checked against each key's
DuckDB oracle, then runs timed passes until ``--seconds`` have been measured
(at least one). ``setup_s`` is the sum of those steps before the first timed
pass, taking the median of the repeated one. Every timed result must match
the warm-up result's fingerprint (row count plus an order-insensitive hash);
a key that raises or disagrees counts as failed and its time is dropped. A
pass during which the host's CPU steal (``/proc/stat``) exceeded 3% is
load-suspect; while every pass is, up to two more run. ``pass_s`` is the
median of all complete passes.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics: after the untraced passes it stops the session and starts
a second one with the Spark event log on (uncompressed), sets it up again,
runs a warm-up pass and then traced passes, which set a job group per key,
time construction apart from execution and attribute streaming progress per
key. ``trace_overhead_frac`` compares each traced pass with the untraced
pass at the same place in the first session, which runs as a ``--trace 0``
run does. Stdout ends with a ``report`` line holding quartiles, sample
counts, the load fingerprint and the layout state, then the result line
``{"correct", "attempted", "failed", "metrics"}``; both are printed even
when keys failed.
The exit code is 1 when any key failed, 2 when the engine is not next to
this directory, 3 when the run was killed for running past 170 s.

Everything the run writes lives under ``.perfbench/`` in the checkout and is
deleted at the end.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import procfs  # noqa: E402
from workloads import (  # noqa: E402
    END_TO_END,
    LAYOUT_KEYS,
    MODULES,
    PYTHON_WORKERS,
    SETUP_METRICS,
    STREAM_METRICS,
    TABLES,
    WORKLOADS,
    key_metric,
    per_layer_metrics,
)

FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
N_SETUP = 3  # repetitions of the layout attach; setup_s takes their median
TIME_LIMIT_S = 140  # stop starting passes after this much wall time
ABORT_S = 170  # a run still going after this long is killed, with its processes
# q_scan_parquet canary on an idle 4-core x86 box over the sf0.01 fixtures;
# load_suspect fires above 1.25x this band.
CANARY_QUIET_S = 0.8
# Host CPU steal (/proc/stat) above this share of a run or a pass marks it
# load-suspect. While every pass of a session is, up to MAX_EXTRA_PASSES
# more run, so a burst of steal weighs less on the median.
STEAL_SUSPECT = 0.03
MAX_EXTRA_PASSES = 2
PYTHON_SOURCE = "PythonMicroBatchStream"  # progress description of a Python source


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def quartiles(values: list[float]) -> dict:
    v = sorted(values)
    if len(v) == 1:
        return {"median": v[0], "q1": v[0], "q3": v[0], "n": 1}
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return {"median": statistics.median(v), "q1": q1, "q3": q3, "n": len(v)}


def tail(values: list[float]) -> dict:
    """The highest percentile with at least 10 samples beyond it: the 11th
    largest sample. Below 21 samples that would fall under the median, so
    the maximum stands in (percentile 100)."""
    v = sorted(values)
    n = len(v)
    if n < 21:
        return {"value": v[-1], "percentile": 100.0, "n": n}
    return {"value": v[n - 11], "percentile": round(100.0 * (n - 10) / n, 2), "n": n}


def fingerprint(rows) -> tuple[int, int]:
    """Row count plus an order-insensitive 64-bit hash of the rows."""
    acc = 0
    for r in rows:
        h = hashlib.blake2b(repr(tuple(r)).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) % (1 << 64)
    return len(rows), acc


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total


_PYTHONPATH = os.environ.get("PYTHONPATH")


def configure_env(work: str, event_log: bool) -> None:
    """Point every writer of the next session inside ``work`` before pyspark
    starts it, and make the engine importable by the Python workers."""
    dirs = {d: os.path.join(work, d) for d in ("tmp", "local", "eventlog", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        TMPDIR=dirs["tmp"],
        TZ="UTC",
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",  # no /tmp/hsperfdata_* files
        PYTHONPATH=ROOT + (os.pathsep + _PYTHONPATH if _PYTHONPATH else ""),
    )
    time.tzset()
    confs = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + dirs["eventlog"],
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
        + " pyspark-shell"
    )


class Bench:
    def __init__(self, args, work: str):
        self.workload = args.workload
        self.keys = list(WORKLOADS[args.workload])
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.t_start = time.perf_counter()
        self.attempted = 0
        self.failed: list[str] = []
        self.expected: dict[str, tuple[int, int]] = {}
        # label ("key@pass") -> (start, end) wall-clock ms of the key's span
        self.spans: dict[str, tuple[float, float]] = {}
        self.warmup_keys: dict[str, float] = {}
        self.pass_no = 0
        self.rss = {"jvm": 0.0, "worker": 0.0}

    # -- engine plumbing ----------------------------------------------------

    def start(self, event_log: bool = False) -> None:
        configure_env(self.work, event_log)
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        from token_burn_listener_spark import scratch
        from token_burn_listener_spark.registry import ORACLES, QUERIES
        from token_burn_listener_spark.session import get_spark

        scratch.SCRATCH_ROOT = os.path.join(self.work, "scratch")
        self.runs_dir = os.path.join(scratch.SCRATCH_ROOT, "runs")
        # registering only the modules this run calls keeps import time out
        # of the run; operators.scans holds the q_scan_parquet canary
        for mod in {*WORKLOADS[self.workload].values(), "operators.scans"}:
            importlib.import_module(f"token_burn_listener_spark.{mod}")
        self.queries, self.oracles = QUERIES, ORACLES
        self.sf = FIXTURES
        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.get_spark_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = procfs.jvm_pid()
        self.listener = make_listener()
        self.spark.streams.addListener(self.listener)

    def stop(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        from pyspark import SparkContext

        self.spark = None
        gw = SparkContext._gateway
        spark.stop()
        proc = getattr(gw, "proc", None)
        pids = procfs.descendants(os.getpid())
        # EOF on its stdin ends the JVM. Closing py4j's side first can hang:
        # its shutdown joins a callback thread that reads from the live JVM.
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        if gw is not None:
            t = threading.Thread(target=gw.shutdown, daemon=True)
            t.start()
            t.join(10)
        deadline = time.time() + 20
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
            time.sleep(0.1)
        for p in pids:
            try:
                os.kill(p, 9)
            except OSError:
                pass
        # the next start() launches a fresh JVM with its own confs
        SparkContext._gateway = None
        SparkContext._jvm = None

    def sample_rss(self) -> None:
        if self.jvm is None:
            return
        self.rss["jvm"] = max(self.rss["jvm"], procfs.vm_hwm_mb(self.jvm))
        for p in procfs.python_workers(self.jvm):
            self.rss["worker"] = max(self.rss["worker"], procfs.vm_hwm_mb(p))

    def worker_cpu_s(self) -> float:
        if self.jvm is None:
            return 0.0
        return sum(procfs.cpu_s(p, reaped_children=True) for p in procfs.python_workers(self.jvm))

    # -- set-up ---------------------------------------------------------------

    def ingest(self) -> dict[str, float]:
        """Read the fixture footers and cold-build what the workload's keys
        read besides the fixtures: the streaming replay copy and the bucketed
        layouts. The second session of a traced run finds them built."""
        from token_burn_listener_spark.operators.storage import LAYOUT_STATE
        from token_burn_listener_spark.streaming.replay import ensure_events_replay

        spark, sf = self.spark, self.sf
        start = time.perf_counter()
        for t in TABLES[self.workload]:
            spark.read.parquet(f"{sf}/{t}.parquet")  # schema inference reads the footer
        t0 = time.perf_counter()
        if self.workload == "listener_stream":
            ensure_events_replay(spark, sf)
        t1 = time.perf_counter()
        self.catalog_before = {t.name for t in spark.catalog.listTables()}
        LAYOUT_STATE.clear()
        for k in LAYOUT_KEYS[self.workload]:
            self.queries[k](spark, sf)  # construction builds the layout
        t2 = time.perf_counter()
        return {
            "ingest_s": t2 - start,
            "scratch.replay_materialize_s": t1 - t0,
            "operators.storage.layout_build_s": t2 - t1,
            "operators.storage.layouts_cold": sum(v == "cold_built" for v in LAYOUT_STATE.values()),
        }

    def attach_layouts(self) -> float:
        """Layout attach over the built files (catalog DDL only): the
        repeatable part of the per-session set-up, so it runs several times."""
        from token_burn_listener_spark.operators.storage import LAYOUT_STATE

        spark = self.spark
        t = time.perf_counter()
        for tbl in spark.catalog.listTables():
            if tbl.name not in self.catalog_before and not tbl.isTemporary:
                spark.sql(f"DROP TABLE {tbl.name}")  # external: files stay
        LAYOUT_STATE.clear()
        for k in LAYOUT_KEYS[self.workload]:
            self.queries[k](spark, self.sf)  # attaches the built layout
        return time.perf_counter() - t

    def warm_workers(self) -> float:
        """Fork the Python worker pool, once per session."""
        t = time.perf_counter()
        if PYTHON_WORKERS[self.workload]:
            warm_python_workers(self.spark)
        return time.perf_counter() - t

    # -- passes ---------------------------------------------------------------

    def order(self, pass_no: int) -> list[str]:
        keys = list(self.keys)
        random.Random(self.seed * 1_000_003 + pass_no).shuffle(keys)
        return keys

    def wait_streams(self) -> None:
        """Block until every query started so far has terminated, so late
        progress events land on the key that ran the query."""
        lst = self.listener
        deadline = time.time() + 60
        while time.time() < deadline:
            if set(lst.started) <= lst.terminated:
                return
            time.sleep(0.02)
        log("timed out waiting for streaming queries to terminate")

    def run_key(self, key: str, label: str, traced: bool):
        """(seconds, construct_s, rows) of one key; raises on failure."""
        sc = self.spark.sparkContext
        self.listener.label = label
        if traced:
            sc.setJobGroup(label, label)
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            df = self.queries[key](self.spark, self.sf)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.wait_streams()
            self.spans[label] = (w0 * 1e3, time.time() * 1e3)
        return t2 - t0, t1 - t0, rows, df

    def warmup_pass(self, oracle: bool = True) -> float:
        """Untimed first pass of a session. With ``oracle`` each result is
        checked against the key's DuckDB oracle and its fingerprint becomes
        the one later passes must match; without, it must match already."""
        import pandas as pd
        from tools.check_parity import compare, duck_connection

        con = duck_connection(self.sf) if oracle else None
        total = 0.0
        self.pass_no += 1
        for key in self.order(self.pass_no):
            if not oracle and key not in self.expected:
                continue  # failed its oracle check: not run again
            self.attempted += 1
            try:
                dt, _, rows, df = self.run_key(key, f"{key}@{self.pass_no}", traced=False)
                if oracle:
                    pdf = rows_to_pandas(pd, df.schema, rows)
                    problems = compare(key, pdf, con.execute(self.oracles[key]).df())
                elif fingerprint(rows) != self.expected[key]:
                    problems = ["result differs from the first warm-up"]
                else:
                    problems = []
            except Exception as exc:  # a broken key must not void the run
                problems = [f"raised {type(exc).__name__}: {exc}"]
            if problems:
                log(f"{key} FAILED {'oracle check' if oracle else 'warm-up'}: {problems[:3]}")
                self.failed.append(key)
                continue
            if oracle:
                self.expected[key] = fingerprint(rows)
                self.warmup_keys[key] = dt
            total += dt
        self.clean_runs()
        return total

    def timed_passes(self, traced: bool, minimum: int, seconds: float) -> list[dict]:
        """Closed-loop passes until ``seconds`` are measured and at least
        ``minimum`` ran, then while every pass is load-suspect (at most
        MAX_EXTRA_PASSES more), unless the run's time limit comes first."""
        passes: list[dict] = []
        extra = 0
        t0 = time.perf_counter()
        while True:
            measured = len(passes) >= minimum and time.perf_counter() - t0 >= seconds
            if measured and (extra == MAX_EXTRA_PASSES or not all(p["suspect"] for p in passes)):
                break
            if passes and time.perf_counter() - self.t_start > TIME_LIMIT_S:
                log("time limit reached; stopping passes early")
                break
            extra += measured
            self.pass_no += 1
            passes.append(self.timed_pass(self.pass_no, traced))
            log(f"pass {self.pass_no}{' traced' if traced else ''}: {passes[-1]['pass_s']:.3f}s, "
                f"steal {passes[-1]['steal_frac']:.3f} "
                + json.dumps({k: round(v, 2) for k, v in passes[-1]["keys"].items()}))
        return passes

    def timed_pass(self, pass_no: int, traced: bool) -> dict:
        keys = self.order(pass_no)
        out = {"pass": pass_no, "traced": traced, "keys": {}, "construct": {}}
        c0, w0, ticks = time.process_time(), self.worker_cpu_s(), cpu_ticks()
        ok = True
        for key in keys:
            if key not in self.expected:
                continue  # failed its oracle check: not timed
            self.attempted += 1
            try:
                dt, ct, rows, _ = self.run_key(key, f"{key}@{pass_no}", traced)
                problem = fingerprint(rows) != self.expected[key] and "result differs from warm-up"
            except Exception as exc:  # a broken key must not void the run
                problem = f"raised {type(exc).__name__}: {exc}"
            if problem:
                log(f"{key} failed in pass {pass_no}: {problem}")
                self.failed.append(key)
                ok = False
                continue
            out["keys"][key] = dt
            out["construct"][key] = ct
        steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
        out["steal_frac"] = steal / total if total else 0.0
        out["suspect"] = out["steal_frac"] > STEAL_SUSPECT
        out["driver_cpu_s"] = time.process_time() - c0
        out["python_worker_cpu_s"] = self.worker_cpu_s() - w0
        out["runs_bytes"] = self.clean_runs()
        self.sample_rss()
        out["complete"] = ok and len(out["keys"]) == len(self.keys)
        out["pass_s"] = sum(out["keys"].values())
        return out

    def clean_runs(self) -> int:
        """Bytes of the per-invocation dirs the pass left; then delete them."""
        n = dir_bytes(self.runs_dir)
        shutil.rmtree(self.runs_dir, ignore_errors=True)
        return n

    def canary(self) -> float:
        t = time.perf_counter()
        self.queries["q_scan_parquet"](self.spark, self.sf).collect()
        return time.perf_counter() - t

    # -- the run --------------------------------------------------------------

    def layout_state(self) -> dict[str, str]:
        from token_burn_listener_spark.operators.storage import LAYOUT_STATE

        return dict(sorted(LAYOUT_STATE.items()))

    def set_up(self) -> dict:
        """Everything before the first timed pass of the run."""
        ingest = self.ingest()
        attach = [self.attach_layouts() for _ in range(N_SETUP)]
        self.layouts = self.layout_state()
        workers_s = self.warm_workers()
        t = time.perf_counter()
        warmup_s = self.warmup_pass()
        setup = {
            "session.get_spark_s": self.get_spark_s,
            **ingest,
            "operators.storage.layout_attach_s": statistics.median(attach),
            "layout_attach_runs_s": attach,
            "python_workers_s": workers_s,
            "warmup_pass_s": warmup_s,
        }
        setup["setup_s"] = (
            self.get_spark_s
            + ingest["ingest_s"]
            + statistics.median(attach)
            + workers_s
            + warmup_s
        )
        log(f"set-up {json.dumps(setup)}; warm-up with checks {time.perf_counter() - t:.1f}s")
        return setup

    def traced_session(self, untraced: int) -> list[dict]:
        """A second session with the event log on, set up over the inputs the
        first one built, warmed up, then timed with tracing for at least as
        many passes as the first session ran untraced."""
        self.start(event_log=True)
        self.ingest()
        self.attach_layouts()
        self.warm_workers()
        self.warmup_pass(oracle=False)
        self.listener.reset()
        passes = self.timed_passes(True, untraced, self.seconds)
        self.stop()
        return passes

    def run(self) -> int:
        load_start = os.getloadavg()
        ticks_start = cpu_ticks()
        self.start()
        setup = self.set_up()
        canary_before = self.canary()
        self.listener.reset()
        passes = self.timed_passes(False, 1, self.seconds)
        canary_after = self.canary()
        self.sample_rss()
        complete = [p for p in passes if p["complete"]]
        latencies = self.batch_latencies(complete)
        self.stop()
        if self.trace:
            passes += self.traced_session(len(passes))
        nproc = len(os.sched_getaffinity(0))
        load_end = os.getloadavg()
        steal, total = (b - a for a, b in zip(ticks_start, cpu_ticks()))
        reasons = [
            name
            for name, hit in (
                ("canary", canary_after > 1.25 * CANARY_QUIET_S),
                ("loadavg", max(load_start[1], load_end[1]) > nproc / 2),
                ("steal", steal > STEAL_SUSPECT * total),
            )
            if hit
        ]
        fingerprint_meta = {
            "nproc": nproc,
            "loadavg_start": [round(x, 2) for x in load_start],
            "loadavg_end": [round(x, 2) for x in load_end],
            "canary_s": [round(canary_before, 4), round(canary_after, 4)],
            "canary_quiet_s": CANARY_QUIET_S,
            "steal_frac": round(steal / total, 4) if total else 0.0,
            "load_suspect": bool(reasons),
            "load_suspect_reasons": reasons,
        }
        complete = [p for p in passes if p["complete"]]  # with the traced ones
        report = {
            "workload": self.workload,
            "seed": self.seed,
            "trace": int(self.trace),
            "keys": self.keys,
            "failed_keys": sorted(set(self.failed)),
            "fingerprint": fingerprint_meta,
            "layouts": self.layouts,
            "setup": setup,
            "warmup_keys": self.warmup_keys,
            "passes": [
                {"pass": p["pass"], "traced": p["traced"], "pass_s": p["pass_s"],
                 "complete": p["complete"], "steal_frac": round(p["steal_frac"], 4),
                 "suspect": p["suspect"]}
                for p in passes
            ],
        }
        if self.trace:
            metrics = self.layer_metrics(setup, passes)
            report["per_layer"] = metrics
        else:
            report["end_to_end"] = self.end_to_end(setup, complete, latencies)
            metrics = {k: report["end_to_end"][k] for k in END_TO_END if k in report["end_to_end"]}
        print("report " + json.dumps(report, sort_keys=True))
        result = {
            "correct": not self.failed and bool(complete),
            "attempted": self.attempted,
            "failed": len(self.failed),
            "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()},
        }
        print(json.dumps(result))
        return 0 if result["correct"] else 1

    # -- metrics --------------------------------------------------------------

    def batch_latencies(self, passes: list[dict]) -> list[float]:
        """triggerExecution seconds of the micro-batches the passes ran."""
        labels = {f"{k}@{p['pass']}" for p in passes for k in p["keys"]}
        return [
            pr["durationMs"].get("triggerExecution", 0) / 1e3
            for label, pr in self.listener.progress
            if label in labels
        ]

    def end_to_end(self, setup: dict, passes: list[dict], latencies: list[float]) -> dict:
        """END_TO_END metrics plus, for the report, failed_frac and (where
        streams ran) the micro-batch latencies, with quartiles and counts."""
        out = {
            "setup_s": {"value": setup["setup_s"], "unit": "s"},
            "failed_frac": {"value": len(self.failed) / max(self.attempted, 1),
                            "unit": "ratio", "n": self.attempted},
            "peak_rss_mb": {
                "value": self.rss["jvm"] + self.rss["worker"],
                "unit": "MB",
                "jvm_mb": self.rss["jvm"],
                "worker_mb": self.rss["worker"],
            },
        }
        if passes:
            p = quartiles([x["pass_s"] for x in passes])
            out["pass_s"] = {"value": p["median"], "unit": "s", **p}
        if latencies:
            q = quartiles(latencies)
            out["batch_latency_p50_s"] = {"value": q["median"], "unit": "s", **q}
            out["batch_latency_tail_s"] = {"unit": "s", **tail(latencies)}
        return out

    def layer_metrics(self, setup: dict, passes: list[dict]) -> dict:
        units = per_layer_metrics()
        vals: dict[str, float] = dict.fromkeys(units, 0.0)
        med = statistics.median
        vals.update({k: setup[k] for k in SETUP_METRICS})
        traced = [p for p in passes if p["traced"] and p["complete"]]
        # Passes keep speeding up as the JVM warms, so each traced pass is
        # compared with the untraced pass at the same place in its session.
        pairs = [
            (t["pass_s"], u["pass_s"])
            for t, u in zip((p for p in passes if p["traced"]), (p for p in passes if not p["traced"]))
            if t["complete"] and u["complete"]
        ]
        if pairs:
            vals["trace_overhead_frac"] = med(t / u for t, u in pairs) - 1
        if traced:
            for key in self.keys:
                ct = [p["construct"][key] for p in traced]
                et = [p["keys"][key] - p["construct"][key] for p in traced]
                vals[key_metric(key, "construct_s")] = med(ct)
                vals[key_metric(key, "execute_s")] = med(et)
            vals["driver_cpu_s"] = med(p["driver_cpu_s"] for p in traced)
            vals["python_worker_cpu_s"] = med(p["python_worker_cpu_s"] for p in traced)
            vals.update(self.spark_exec(traced))
            vals.update(self.stream_metrics(traced))
        return {k: {"value": vals[k], "unit": units[k]} for k in units}

    def label_of_stage(self, st: eventlog.Stage, run_labels: dict[str, str]) -> str | None:
        if st.group in self.spans:
            return st.group
        if st.group in run_labels:
            return run_labels[st.group]
        for label, (a, b) in self.spans.items():
            if st.submitted_ms is not None and a <= st.submitted_ms <= b:
                return label
        return None

    def spark_exec(self, traced: list[dict]) -> dict[str, float]:
        logs = [os.path.join(self.work, "eventlog", f) for f in os.listdir(os.path.join(self.work, "eventlog"))]
        stages = [s for path in logs for s in eventlog.parse(path)]
        run_labels = dict(self.listener.started)
        per_pass: dict[int, dict[str, list]] = {p["pass"]: {m: [] for m in MODULES} for p in traced}
        for st in stages:
            label = self.label_of_stage(st, run_labels)
            if label is None:
                continue
            key, pass_no = label.rsplit("@", 1)
            if int(pass_no) in per_pass:
                mod = WORKLOADS[self.workload][key].split(".")[0]
                per_pass[int(pass_no)][mod].append(st)
        out = {}
        for mod in MODULES:
            rows = [eventlog.summarize(per_pass[p][mod]) for p in per_pass]
            for name in rows[0]:
                out[f"{mod}.{name}"] = statistics.median(r[name] for r in rows)
        return out

    def stream_metrics(self, traced: list[dict]) -> dict[str, float]:
        rows = []
        for p in traced:
            labels = {f"{k}@{p['pass']}" for k in p["keys"]}
            prog = [pr for label, pr in self.listener.progress if label in labels]
            if not prog:
                rows.append(dict.fromkeys(STREAM_METRICS, 0.0))
                continue
            lat = self.batch_latencies([p])

            def dur(name: str) -> float:
                return sum(pr["durationMs"].get(name, 0) for pr in prog)

            last: dict[str, dict] = {}
            for pr in prog:
                last[pr["runId"]] = pr
            feed = [pr for pr in prog
                    if any(PYTHON_SOURCE in s.get("description", "") for s in pr["sources"])]
            feed_s = sum(pr["durationMs"].get("triggerExecution", 0) for pr in feed) / 1e3
            inputs = sum(pr["numInputRows"] for pr in prog)
            ops = [op for pr in prog for op in pr.get("stateOperators", [])]
            rows.append({
                "streaming.batches": len(prog),
                "streaming.batch_latency_p50_s": statistics.median(lat),
                "streaming.batch_latency_tail_s": tail(lat)["value"],
                "streaming.empty_batch_frac": sum(pr["numInputRows"] == 0 for pr in prog) / len(prog),
                "streaming.add_batch_ms": dur("addBatch"),
                "streaming.checkpoint_ms": dur("walCommit") + dur("commitOffsets"),
                "streaming.query_planning_ms": dur("queryPlanning"),
                "streaming.state_commit_ms": sum(op.get("commitTimeMs", 0) for op in ops),
                "streaming.state_store_instances": sum(op.get("numStateStoreInstances", 0) for op in ops),
                "streaming.state_rows": sum(
                    op.get("numRowsTotal", 0) for pr in last.values() for op in pr.get("stateOperators", [])
                ),
                "streaming.bytes_written_per_event": p["runs_bytes"] / inputs if inputs else 0.0,
                "sources.feed_rows_per_s": sum(pr["numInputRows"] for pr in feed) / feed_s if feed_s else 0.0,
                "sources.get_batch_ms": dur("latestOffset") + dur("getBatch"),
            })
        return {m: statistics.median(r[m] for r in rows) for m in STREAM_METRICS}


def warm_python_workers(spark) -> None:
    """Fork the Python worker pool once and import the kernels' modules."""

    def _warm(it):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from it

    n = spark.sparkContext.defaultParallelism
    (
        spark.range(256, numPartitions=n)
        .mapInPandas(_warm, schema="id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def rows_to_pandas(pd, schema, rows):
    """The collected rows as the pandas frame ``toPandas()`` would give, for
    the oracle comparison."""
    names = [f.name for f in schema.fields]
    pdf = pd.DataFrame.from_records([tuple(r) for r in rows], columns=names)
    for i, f in enumerate(schema.fields):
        t = f.dataType.typeName()
        col = pdf.iloc[:, i]
        if t in ("timestamp", "timestamp_ntz"):
            pdf.isetitem(i, pd.to_datetime(col))
        elif t in ("byte", "short", "integer", "long"):
            pdf.isetitem(i, col.astype("Int64"))
        elif t in ("float", "double"):
            pdf.isetitem(i, col.astype("float64"))
    return pdf


def make_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Streaming progress, attributed to the key running when each query
        started (onQueryStarted runs synchronously inside ``start()``)."""

        def __init__(self):
            self.label: str | None = None
            self.reset()

        def reset(self):
            self.started: dict[str, str | None] = {}
            self.terminated: set[str] = set()
            self.progress: list[tuple[str | None, dict]] = []

        def onQueryStarted(self, event):
            self.started[str(event.runId)] = self.label

        def onQueryProgress(self, event):
            pr = json.loads(event.progress.json)
            self.progress.append((self.started.get(pr["runId"], self.label), pr))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated.add(str(event.runId))

    return Progress()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (
        os.path.isfile(os.path.join(ROOT, "bench.py"))
        and os.path.isdir(os.path.join(ROOT, "token_burn_listener_spark"))
    ):
        log(f"the engine (bench.py, token_burn_listener_spark/) is not in {ROOT}")
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)

    def abort() -> None:
        log(f"still running after {ABORT_S}s; killing the run")
        for p in procfs.descendants(os.getpid()):
            try:
                os.kill(p, 9)
            except OSError:
                pass
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    watchdog = threading.Timer(ABORT_S, abort)
    watchdog.daemon = True
    watchdog.start()
    bench = Bench(args, work)
    try:
        return bench.run()
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
