#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. One process, ``local[<cores>]``:

1. generate (or reuse) the workload's seeded inputs under
   ``.perfbench/inputs``;
2. set up once: start the JVM and the session, and run one untimed
   warm-up query. ``setup_s`` runs from process start to the end of the
   warm-up, less the input generation;
3. run whole passes over the workload's keys, closed loop, while the
   next pass still fits in ``--seconds`` (at least one). A key call is
   timed from the call until its result has been written to its
   parquet sink; memos and the ETL keys' own temporary sinks are
   released between passes, outside the timing;
4. read every sink back and check it against its DuckDB oracle;
5. print one JSON line: end-to-end metrics with ``--trace 0``,
   per-layer metrics with ``--trace 1``.

``wall_s`` is the first pass: one pass of the workload in a fresh
process, as a batch job runs it. Later passes are checked and counted
but not timed into any metric: in a warm JVM their times drift with
the JIT for as long as a run can afford to go on.

A traced run traces that first pass only: spans, job groups, the Spark
event log and a streaming listener. Every run writes a detailed
artifact to ``.perfbench/results``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import eventlog, gen  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER, REPORTED  # noqa: E402
from perfbench.trace import Tracer, install, memo_entries, progress_listener, self_times  # noqa: E402
from perfbench.workloads import WARMUP_KEY, WORKLOADS  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "4g"
OPERATOR_MODULES = ("etl", "scd", "ml", "dedup", "similarity")
PKG_PREFIX = "proceso_de_etl_spark."
MB = 1048576.0
# a run still going after this long is cut, so a wedged JVM ends in an
# error instead of a hang
WATCHDOG_S = 170


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run_dirs() -> dict[str, str]:
    """A fresh scratch tree for this run; everything the run leaves
    behind (sinks, shuffle files, event log, JVM temp) lands here."""
    run = os.path.join(STATE, "run")
    shutil.rmtree(run, ignore_errors=True)
    dirs = {n: os.path.join(run, n) for n in ("tmp", "sinks", "local", "jvm-tmp", "eventlog", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    return dirs


def configure_env(dirs: dict[str, str], trace: bool) -> int:
    """Point every temporary location into the run's scratch tree and
    size the session; must run before the JVM starts."""
    cores = len(os.sched_getaffinity(0))
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    confs = [
        f"spark.sql.warehouse.dir={dirs['warehouse']}",
        # no hsperfdata file in the system /tmp: a run writes only inside its checkout
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={dirs['jvm-tmp']} -Dderby.system.home={dirs['warehouse']} "
        "-XX:-UsePerfData",
    ]
    if trace:
        confs += [
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
            "spark.eventLog.includeTaskMetricsAccumulators=false",
            f"spark.eventLog.dir=file://{dirs['eventlog']}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"
    return cores


def release(spark) -> None:
    """Drop every memo and cached frame, as between bench passes."""
    from proceso_de_etl_spark import cachereg
    from proceso_de_etl_spark.operators import dedup, ml

    dedup.unpersist_shingles()
    ml.unpersist_copurchase()
    cachereg.release_all()
    spark.catalog.clearCache()


def dir_usage(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(root, n))
            except OSError:
                continue
            files += 1
    return size, files


def empty_dir(path: str) -> None:
    for n in os.listdir(path):
        p = os.path.join(path, n)
        if os.path.isdir(p) and not os.path.islink(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            os.remove(p)


def cached_bytes(spark) -> int:
    """Bytes pinned in Spark storage, memory plus disk."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every descendant
    (the JVM and its Python workers), for the artifact."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(pid)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
    me = os.getpid()
    total, frontier = stats.get(me, (0, 0))[1], [me]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, ticks) in stats.items():
            if ppid == parent:
                total += ticks
                frontier.append(pid)
    return total / tick


def steal_s() -> float:
    """CPU time the machine's hypervisor took away, for the artifact."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def key_layer(fn) -> str:
    mod = getattr(fn, "__module__", "") or ""
    return mod[len(PKG_PREFIX):] if mod.startswith(PKG_PREFIX) else mod


class Runner:
    def __init__(self, args, workload, queries, inputs: str, tracer: Tracer | None, dirs, cores: int):
        self.args = args
        self.wl = workload
        self.queries = queries
        self.inputs = inputs
        self.tracer = tracer
        self.dirs = dirs
        self.cores = cores
        self.spark = None
        self.structures: dict = {}
        self.passes: list[dict] = []
        self.storage_peak = 0
        self.entries_peak = 0
        self.progress: list[dict] = []

    # -- set-up ----------------------------------------------------------

    def setup(self, gen_s: float) -> tuple[float, float]:
        """Start the JVM and session and run the warm-up query; returns
        (set-up time since process start less ``gen_s``, session start)."""
        from proceso_de_etl_spark.session import get_spark

        ts = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.wl.name}")
        session_s = time.perf_counter() - ts
        self.queries[WARMUP_KEY](self.spark, self.inputs).write.mode("overwrite").format("noop").save()
        setup_s = time.perf_counter() - _T0 - gen_s
        if self.tracer is not None:
            self.tracer.bind(self.spark)
            self.spark.streams.addListener(progress_listener(self.progress))
        return setup_s, session_s

    # -- measured passes ---------------------------------------------------

    def run_key(self, key: str, sink: str, traced: bool) -> dict:
        tr = self.tracer
        fn = self.queries[key]
        rec = {"key": key, "build_s": None, "exec_s": None, "error": None}
        kspan = None
        if traced:
            tr.key = key
            kspan = tr.open(key, "key")
        try:
            t0 = time.perf_counter()
            if traced:
                with tr.span("build", key_layer(fn), "build"):
                    df = fn(self.spark, self.inputs)
            else:
                df = fn(self.spark, self.inputs)
            t1 = time.perf_counter()
            if traced:
                with tr.span("exec", "exec", "exec"):
                    df.write.parquet(sink)
            else:
                df.write.parquet(sink)
            rec["build_s"], rec["exec_s"] = t1 - t0, time.perf_counter() - t1
        except Exception as e:  # a failing key is counted and named; the run goes on
            rec["error"] = f"{type(e).__name__}: {e}"[:2000]
            traceback.print_exc(file=sys.stderr)
        finally:
            if traced:
                tr.close(kspan)
                tr._memo_open.clear()
                self.entries_peak = max(self.entries_peak, memo_entries(self.structures))
        self.storage_peak = max(self.storage_peak, cached_bytes(self.spark))
        return rec

    def run_pass(self, traced: bool) -> dict:
        tr = self.tracer
        if tr is not None:
            tr.enabled = traced
            tr.pass_no = len(self.passes)
        sinks = os.path.join(self.dirs["sinks"], f"p{len(self.passes)}")
        s0, c0 = steal_s(), tree_cpu_s()
        t0 = time.perf_counter()
        keys = [self.run_key(k, os.path.join(sinks, k), traced) for k in self.wl.keys]
        wall = time.perf_counter() - t0
        steal, cpu = steal_s() - s0, tree_cpu_s() - c0
        if tr is not None:
            tr.enabled = False
            tr.key = None
        etl_bytes, etl_files = dir_usage(self.dirs["tmp"])
        res_bytes, res_files = dir_usage(sinks)
        empty_dir(self.dirs["tmp"])
        release(self.spark)
        return {
            "traced": traced,
            "wall_s": wall,
            "cpu_s": cpu,
            "steal_s": steal,
            "keys": keys,
            "sinks": sinks,
            "bytes_written": etl_bytes + res_bytes,
            "files_written": etl_files + res_files,
        }

    def measure(self) -> None:
        """Whole passes while the next one still fits in ``--seconds``,
        and at least one; a traced run traces the first."""
        deadline = time.perf_counter() + self.args.seconds
        while True:
            p = self.run_pass(traced=self.tracer is not None and not self.passes)
            self.passes.append(p)
            if time.perf_counter() + p["wall_s"] > deadline:
                break

    # -- tear-down -----------------------------------------------------------

    def stop(self) -> str | None:
        """Stop the session and the JVM, wait for it to exit, and return
        the application's event log path (traced runs)."""
        from pyspark import SparkContext

        log = None
        if self.spark is not None:
            if self.tracer is not None:
                self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            app_id = self.spark.sparkContext.applicationId
            self.spark.stop()
            path = os.path.join(self.dirs["eventlog"], app_id)
            log = path if os.path.exists(path) else None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        return log


def check_outputs(runner: Runner, oracle_sql: dict[str, str]) -> list[dict]:
    """Every key call that raised, plus every sink that does not match
    its oracle."""
    from perfbench.check import Oracle, read_sink

    failures = []
    oracle = Oracle(runner.inputs, oracle_sql)
    try:
        for p, rec in enumerate(runner.passes):
            for k in rec["keys"]:
                if k["error"] is not None:
                    failures.append({"key": k["key"], "pass": p, "why": k["error"]})
                    continue
                try:
                    why = oracle.mismatch(k["key"], read_sink(os.path.join(rec["sinks"], k["key"])))
                except Exception as e:  # a sink or oracle that cannot be read is a failed check
                    why = f"check raised {type(e).__name__}: {e}"[:2000]
                if why is not None:
                    failures.append({"key": k["key"], "pass": p, "why": why})
    finally:
        oracle.close()
    return failures


def _per_pass(values: list[float], n: int) -> float:
    return sum(values) / n if n else 0.0


def layer_metrics(runner: Runner, session_s: float, log_path: str | None) -> tuple[dict, dict]:
    """Per-layer metrics, per traced pass, plus a per-key breakdown."""
    tr = runner.tracer
    spans = tr.spans
    st = self_times(spans)
    dur = [(s["end"] or s["start"]) - s["start"] for s in spans]
    traced = [p for p in runner.passes if p["traced"]]
    n = len(traced)
    keys = set(runner.wl.keys)
    layer_of = {k: key_layer(runner.queries[k]) for k in keys}

    groups = eventlog.read(log_path) if log_path else {}
    key_spans = [(s["key"], s["start"] * 1000, s["end"] * 1000) for s in spans if s["layer"] == "key"]

    def group_owner(group: str | None, rec: dict) -> tuple[str, str] | None:
        """The (key, phase) a job group belongs to; a streaming query's
        jobs run under its own group and are placed by submission time."""
        if group is None:
            return None
        key, _, phase = group.rpartition(":")
        if key in keys:
            return key, phase
        first = min((t for t in rec["job_submit_ms"] if t is not None), default=None)
        for k, a, b in key_spans:
            if first is not None and a <= first <= b:
                return k, "stream"
        return None

    per_key: dict[str, dict] = {k: {f: 0 for f in eventlog.FIELDS} | {"jobs_by_phase": {}} for k in keys}
    spark_tot = {f: 0 for f in eventlog.FIELDS}
    for group, rec in groups.items():
        owner = group_owner(group, rec)
        if owner is None:
            continue
        k, phase = owner
        eventlog.add(per_key[k], rec)
        eventlog.add(spark_tot, rec)
        per_key[k]["jobs_by_phase"][phase] = per_key[k]["jobs_by_phase"].get(phase, 0) + rec["jobs"]

    def jobs(phase: str, pred=lambda k: True) -> float:
        return _per_pass([v["jobs_by_phase"].get(phase, 0) for k, v in per_key.items() if pred(k)], n)

    def span_sum(pred, values) -> float:
        return _per_pass([values[i] for i, s in enumerate(spans) if pred(s)], n)

    def is_build(prefix: str):
        return lambda s: s["name"] == "build" and s["layer"].startswith(prefix)

    write_idx = {i for i, s in enumerate(spans) if s["layer"] == "sources.write"}
    outer_write = lambda s: s["layer"] == "sources.write" and s["parent"] not in write_idx  # noqa: E731

    progress = [
        e
        for e in runner.progress
        if e["kind"] == "progress" and any(a <= _iso_ms(e["ts"]) <= b for _, a, b in key_spans)
    ]
    calls = tr.counts.get("memo_calls", 0)
    hits = tr.counts.get("memo_hits", 0)
    traced_wall = statistics.median(p["wall_s"] for p in traced)
    spark_pp = {f: _per_pass([spark_tot[f]], n) for f in eventlog.FIELDS}

    m = {
        "session.start_s": session_s,
        "sources.load_table_calls": _per_pass([tr.counts.get("load_table_calls", 0)], n),
        "sources.load_table_s": span_sum(lambda s: s["layer"] == "sources.catalog", dur),
        "sources.load_table_jobs": jobs("load"),
        "sources.write_calls": span_sum(outer_write, [1] * len(spans)),
        "sources.write_s": span_sum(outer_write, dur),
        "sources.write_jobs": jobs("write"),
        "operators.build_s": span_sum(is_build("operators."), st),
        "operators.build_jobs": jobs("build", lambda k: layer_of[k].startswith("operators.")),
    }
    for sub in OPERATOR_MODULES:
        m[f"operators.{sub}.build_s"] = span_sum(is_build(f"operators.{sub}"), st)
    m |= {
        "plans.build_s": span_sum(is_build("plans."), st),
        "streaming.build_s": span_sum(is_build("streaming."), st),
        "exec.exec_s": span_sum(lambda s: s["layer"] == "exec", dur),
        "exec.jobs": jobs("exec"),
        "cachereg.memo_calls": _per_pass([calls], n),
        "cachereg.memo_hits": _per_pass([hits], n),
        "cachereg.hit_ratio": hits / calls if calls else 0.0,
        "cachereg.memo_build_s": span_sum(lambda s: s["layer"] == "cachereg", st),
        "cachereg.memo_jobs": jobs("memo"),
        "cachereg.entries_peak": runner.entries_peak,
        "streaming.queries": _per_pass([len({e["run_id"] for e in progress})], n),
        "streaming.batches": _per_pass([len(progress)], n),
        "streaming.input_rows": _per_pass([sum(e["input_rows"] for e in progress)], n),
        "streaming.trigger_s": _per_pass([sum(e["trigger_ms"] for e in progress) / 1000.0], n),
        "spark.jobs": spark_pp["jobs"],
        "spark.stages": spark_pp["stages"],
        "spark.tasks": spark_pp["tasks"],
        "spark.failed_tasks": spark_pp["failed_tasks"],
        "spark.task_run_s": spark_pp["task_run_s"],
        "spark.task_cpu_s": spark_pp["task_cpu_s"],
        "spark.gc_s": spark_pp["gc_s"],
        "spark.core_busy_ratio": spark_pp["task_run_s"] / (traced_wall * runner.cores),
        "spark.shuffle_write_mb": spark_pp["shuffle_write_mb"],
        "spark.shuffle_read_mb": spark_pp["shuffle_read_mb"],
        "spark.spill_mb": spark_pp["spill_mb"],
        "trace.wall_s": traced_wall,
        "trace.overhead_s": tr.cost / n,
        "trace.unaccounted_s": _per_pass(
            [p["wall_s"] - sum((k["build_s"] or 0) + (k["exec_s"] or 0) for k in p["keys"]) for p in traced], n
        ),
    }

    detail = {}
    for k in runner.wl.keys:
        by_layer: dict[str, float] = {}
        for i, s in enumerate(spans):
            if s["key"] == k and s["layer"] != "key":
                by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + st[i] / n
        pk = per_key[k]
        detail[k] = {
            "self_s_by_layer": by_layer,
            "jobs_by_phase": {ph: j / n for ph, j in pk["jobs_by_phase"].items()},
        } | {f: pk[f] / n for f in eventlog.FIELDS}
    return m, detail


def _iso_ms(ts: str) -> float:
    from datetime import datetime, timezone

    t = datetime.strptime(ts.rstrip("Z")[:26], "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=timezone.utc)
    return t.timestamp() * 1000.0


def _cut_run(signum, frame) -> None:
    """Kill the JVM, wait for it, and exit without a result."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait()
    print(f"run cut after {WATCHDOG_S} s", file=sys.stderr)
    os._exit(3)


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGALRM, _cut_run)
    signal.alarm(WATCHDOG_S)
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"no engine to measure: {ROOT} has no __spark_entry__.py", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)
    dirs = run_dirs()
    cores = configure_env(dirs, trace)

    import __spark_entry__ as entrymod

    queries, oracle_sql = entrymod.queries(), entrymod.oracle_sql()
    missing = [k for k in (*wl.keys, WARMUP_KEY) if k not in queries]
    if missing:
        print(f"unknown query keys: {missing}", file=sys.stderr)
        return 2

    g0 = time.perf_counter()
    inputs = gen.ensure_inputs(os.path.join(STATE, "inputs"), wl.tier, args.seed)
    gen_s = time.perf_counter() - g0

    tracer = Tracer() if trace else None
    runner = Runner(args, wl, queries, inputs, tracer, dirs, cores)
    if tracer is not None:
        runner.structures = install(tracer)
    try:
        setup_s, session_s = runner.setup(gen_s)
        runner.measure()
    finally:
        log_path = runner.stop()

    failures = check_outputs(runner, oracle_sql)
    attempted = sum(len(p["keys"]) for p in runner.passes)
    failed = len({(f["key"], f["pass"]) for f in failures})
    common = {
        "wall_s": runner.passes[0]["wall_s"],
        "setup_s": setup_s,
        "bytes_written_mb": runner.passes[0]["bytes_written"] / MB,
        "files_written": runner.passes[0]["files_written"],
        "error_rate": failed / attempted,
        "cached_mb_peak": runner.storage_peak / MB,
    }

    if trace:
        values, detail = layer_metrics(runner, session_s, log_path)
        values |= {k: common[k] for k in REPORTED}
        units = {k: u for k, (u, _) in PER_LAYER.items()}
    else:
        values, detail, units = {k: common[k] for k in END_TO_END}, {}, END_TO_END
        for k, unit in (END_TO_END | REPORTED).items():
            print(f"{k} = {common[k]:.6g} {unit}")

    artifact = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "inputs_gen_s": gen_s,
        "setup_s": setup_s,
        "session_start_s": session_s,
        "passes": runner.passes,
        "failures": failures,
        "metrics": values,
        "per_key": detail,
        "spans": tracer.spans if tracer is not None else [],
    }
    results = os.path.join(STATE, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)

    for fl in failures:
        print(f"FAILED {fl['key']} (pass {fl['pass']}): {fl['why']}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
