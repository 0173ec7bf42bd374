"""One benchmark for the engine.

    python3 perfbench/run.py --workload batch_jobs --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed (cached per seed under
``.perfbench_work/data``; generation time is kept out of every metric),
starts the program's session with ``get_spark`` at ``local[<cores>]``,
makes one untimed warm-up round of the workload's calls, then repeats
whole timed rounds until ``--seconds`` have passed.  Afterwards every
output is checked against DuckDB computations and properties
(``checks.py``), and the last line of standard output is one JSON
object: ``correct``, ``attempted`` and ``failed`` calls, and the
metrics — the end-to-end ones with ``--trace 0``, the per-layer ones
with ``--trace 1`` (a separate run that turns on Spark's event log,
gives each call a job group and writes a span trace; see README.md).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

from perfbench import procstats  # noqa: E402

# the program runs at local[<the cores this process may use>]
CORES = len(os.sched_getaffinity(0))

# A run that has not printed its result this long after the process
# started is stopped: every process it started is killed, and it exits
# with 3 and no result.
HARD_LIMIT_S = 160.0
# No timed round starts this long after the process started, once one
# has run: a machine slowed by other load shortens the run instead of
# running into the hard limit.
ROUND_BUDGET_S = 90.0

END_TO_END = {
    "setup_s": "s",
    "records_per_s": "records/s",
    "latency_p50_ms": "ms",
    "cpu_s": "s",
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def inputs(workload: str, seed: int) -> tuple[str, dict]:
    """The workload's input dir for ``seed``, generated once by a
    separate single process and cached (keyed by the generator's code)."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(WORK, "data", f"{workload}-{seed}-{version}")
    if not os.path.exists(os.path.join(d, "manifest.json")):
        part = f"{d}.part{os.getpid()}"
        shutil.rmtree(part, ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
             "--seed", str(seed), "--out", part],
            check=True,
        )
        shutil.rmtree(d, ignore_errors=True)
        os.rename(part, d)
    with open(os.path.join(d, "manifest.json")) as f:
        return d, json.load(f)


class Progress:
    """Streaming progress as Spark reports it, through a
    ``StreamingQueryListener``: which queries each call started, and
    every micro-batch's ``StreamingQueryProgress``."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.started: dict[str, tuple[str, float]] = {}  # runId -> (call, wall)
        self.progress: dict[str, list[dict]] = {}
        self.done: set[str] = set()
        self.call = ""
        self._lock = threading.Lock()
        outer = self

        class L(StreamingQueryListener):
            def onQueryStarted(self, e):  # delivered synchronously by start()
                with outer._lock:
                    outer.started[str(e.runId)] = (outer.call, time.time())

            def onQueryProgress(self, e):
                p = json.loads(e.progress.json)
                with outer._lock:
                    outer.progress.setdefault(p["runId"], []).append(p)

            def onQueryIdle(self, e):
                pass

            def onQueryTerminated(self, e):
                with outer._lock:
                    outer.done.add(str(e.runId))

        self.listener = L()
        spark.streams.addListener(self.listener)

    def runs_of(self, call: str) -> list[str]:
        with self._lock:
            return [r for r, (c, _) in self.started.items() if c == call]

    def wait_terminated(self, runs: list[str], timeout: float = 60.0) -> None:
        end = time.time() + timeout
        while time.time() < end:
            with self._lock:
                if all(r in self.done for r in runs):
                    return
            time.sleep(0.01)
        raise TimeoutError(f"no termination event for queries {runs}")


class Record:
    """One call's measurements."""

    def __init__(self, call, rnd: int, group: str):
        self.call, self.round, self.group = call, rnd, group
        self.wall = 0.0
        self.t0 = 0.0
        self.runs: list[str] = []
        self.query_started: list[float] = []  # wall time each query started
        self.progress: list[dict] = []
        self.jobs_tracker = 0
        self.error: str | None = None
        self.output: dict = {}

    @property
    def records(self) -> int:
        if self.call.records:
            return self.call.records
        return sum(p["numInputRows"] for p in self.progress)


def run_round(spark, calls, rnd: int, progress: Progress, trace: bool, wl: str) -> list[Record]:
    sc = spark.sparkContext
    out = []
    for c in calls:
        group = f"{wl}.r{rnd}.{c.layer}.{c.name}"
        rec = Record(c, rnd, group)
        progress.call = group
        if trace:
            sc.setJobGroup(group, group)
        rec.t0 = time.time()
        t = time.perf_counter()
        try:
            rec.output = c.fn()
        except Exception:  # a failed call is counted, the round goes on
            rec.error = traceback.format_exc()
        rec.wall = time.perf_counter() - t
        progress.call = ""
        rec.runs = progress.runs_of(group)
        if rec.runs:
            progress.wait_terminated(rec.runs)
            with progress._lock:
                rec.query_started = [progress.started[r][1] for r in rec.runs]
                rec.progress = [p for r in rec.runs for p in progress.progress.get(r, [])]
        if trace:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            st = sc.statusTracker()
            rec.jobs_tracker = sum(
                len(st.getJobIdsForGroup(g)) for g in [group, *rec.runs])
        out.append(rec)
    return out


def unit_ms(r: Record) -> list[float]:
    """The latency of each unit of work in a call: its micro-batches'
    ``triggerExecution`` for a streaming call, else the call itself."""
    if r.progress:
        return [float(p["durationMs"]["triggerExecution"]) for p in r.progress]
    return [r.wall * 1000.0]


def end_to_end(setup_s: float, timed: list[Record], cpu_rounds: list[float]) -> dict:
    """Medians over the timed rounds, so that one round slowed by the
    machine does not move the run's figure."""
    recs = [r for r in timed if r.call.timed and r.error is None]
    by_round: dict[int, list[Record]] = {}
    for r in recs:
        by_round.setdefault(r.round, []).append(r)
    rate = [sum(r.records for r in rs) / sum(r.wall for r in rs) for rs in by_round.values()]
    # each call's median unit over its rounds, then the median over the
    # calls: a median over all units would sit at the step between two
    # calls whose units take different times
    units: dict[str, list[float]] = {}
    for r in recs:
        units.setdefault(f"{r.call.layer}.{r.call.name}", []).extend(unit_ms(r))
    lat = [statistics.median(u) for u in units.values()]
    return {
        "setup_s": setup_s,
        "records_per_s": statistics.median(rate) if rate else 0.0,
        "latency_p50_ms": statistics.median(lat) if lat else 0.0,
        "cpu_s": statistics.median(cpu_rounds),
    }


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    standard input closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _watchdog(t_proc0: float) -> threading.Timer:
    def fire():
        print(f"perfbench: no result {HARD_LIMIT_S:.0f} s after the start; stopping the run",
              file=sys.stderr, flush=True)
        procstats.kill_descendants(os.getpid())
        os._exit(3)

    t = threading.Timer(max(0.0, t_proc0 + HARD_LIMIT_S - time.time()), fire)
    t.daemon = True
    t.start()
    return t


def main(argv) -> int:
    t_proc0 = procstats.process_start_epoch()
    watchdog = _watchdog(t_proc0)
    a = _parse(argv)
    try:
        import userbehavioranalysis_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program package is not importable: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    t = time.time()
    data_dir, manifest = inputs(a.workload, a.seed)
    gen_s = time.time() - t

    # everything the program writes stays inside the checkout
    tmp = os.path.join(WORK, "tmp", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    # the JVMs keep their perf-data file in /tmp otherwise
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    import tempfile

    tempfile.tempdir = tmp
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.streaming.checkpointLocation": os.path.join(tmp, "checkpoints"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    eventlog = os.path.join(tmp, "eventlog")
    if a.trace:
        os.makedirs(eventlog)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    from userbehavioranalysis_spark import get_spark

    spark = None
    try:
        t = time.time()
        spark = get_spark("perfbench", master=f"local[{CORES}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.time() - t
        procs = procstats.ProgramProcs()
        progress = Progress(spark)
        wl = WORKLOADS[a.workload](spark, data_dir, manifest, tmp)
        calls = wl.calls(bool(a.trace))
        if wl.partitions_per_core:
            spark.conf.set("spark.sql.shuffle.partitions", str(CORES))

        t = time.time()
        warm = run_round(spark, calls, 0, progress, bool(a.trace), a.workload)
        warmup_s = time.time() - t
        setup_s = time.time() - t_proc0 - gen_s

        cpu = [procs.cpu()]  # at each round boundary
        timed: list[Record] = []
        t_timed0 = time.time()
        rounds = 0
        while rounds < wl.timed_rounds or time.time() - t_timed0 < a.seconds:
            if rounds and time.time() - t_proc0 > ROUND_BUDGET_S:
                print(f"perfbench: {ROUND_BUDGET_S:.0f} s budget spent; "
                      f"stopping after {rounds} timed round(s)", file=sys.stderr)
                break
            rounds += 1
            timed += run_round(spark, calls, rounds, progress, bool(a.trace), a.workload)
            cpu.append(procs.cpu())
        t_timed1 = time.time()
    finally:
        if spark is not None:
            _stop(spark)

    failed = [r for r in warm + timed if r.error]
    for r in failed:
        print(f"perfbench: {r.group} failed:\n{r.error}", file=sys.stderr)

    exp = wl.expected()
    errors: list[str] = []
    for rnd in range(1, rounds + 1):
        out = {}
        for r in timed:
            if r.round == rnd:
                out.update(r.output)
        if any(r.error for r in timed if r.round == rnd):
            continue
        errs = wl.check(out, exp)
        errors += [f"round {rnd}: {e}" for e in errs]
    for e in errors[:20]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)

    for c in calls:
        walls = [f"{r.wall:.2f}" for r in warm + timed if r.call is c]
        units = [round(u) for r in timed if r.call is c for u in unit_ms(r)]
        print(f"perfbench: {c.layer}.{c.name} walls(s) {' '.join(walls)}; timed units(ms) {units}",
              file=sys.stderr)
    for rnd in range(1, rounds + 1):
        m = end_to_end(0.0, [r for r in timed if r.round == rnd],
                       [cpu[rnd]["program"] - cpu[rnd - 1]["program"]])
        print(f"perfbench: round {rnd}: records_per_s {m['records_per_s']:.0f} "
              f"latency_p50_ms {m['latency_p50_ms']:.0f} cpu_s {m['cpu_s']:.2f}", file=sys.stderr)
    print(f"perfbench: rounds={rounds} gen_s={gen_s:.2f} start_s={start_s:.2f} "
          f"warmup_s={warmup_s:.2f} timed_s={t_timed1 - t_timed0:.2f}", file=sys.stderr)
    timed_calls = [r for r in timed if r.call.timed]
    result = {
        "correct": not errors,
        "attempted": len(timed_calls),
        "failed": sum(1 for r in timed_calls if r.error),
    }
    if a.trace:
        from perfbench import tracing

        metrics, check_errs = tracing.per_layer(
            a.workload, eventlog, manifest, warm, timed, rounds,
            {"start_s": start_s, "warmup_s": warmup_s},
            (cpu[-1]["python_workers"] - cpu[0]["python_workers"]) / rounds,
            (t_timed0, t_timed1), os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json"),
        )
        for e in check_errs:
            print(f"perfbench: trace check failed: {e}", file=sys.stderr)
        result["correct"] = result["correct"] and not check_errs
        units = tracing.PER_LAYER
    else:
        metrics = end_to_end(
            setup_s, timed, [b["program"] - a["program"] for a, b in zip(cpu, cpu[1:])])
        units = END_TO_END
    result["metrics"] = {k: {"value": metrics[k], "unit": units[k]} for k in units}
    shutil.rmtree(tmp, ignore_errors=True)
    watchdog.cancel()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
