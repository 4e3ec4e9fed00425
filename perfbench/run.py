"""Whole-result benchmark of the find/compare engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout; the package is imported from that
checkout only. Workloads (see ``workloads.py``):

* ``find_compare_batch`` - one keyed Keep/Replace pass per call;
* ``registry_sf0.01``    - registered queries, each written to ``noop``.

Every call's whole output is checked against a DuckDB oracle (untimed).
The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` (ops) and ``metrics`` - the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The exit code
is 0 only when every output matched.

End-to-end metrics (tracing off): ``setup_s`` (session start + median of
three input generations with their oracle precomputes + one warm-up
call), ``wall_s`` (median call), ``probes_per_s`` (search rows per
second; on the registry a probe is one registered query) and
``op_p50_s`` (median op: a call or a query). Printed beside them but not
in the result: ``op_tail_s`` (the slowest op: a run has too few ops for
a percentile above the median),
``peak_rss_mb`` (peak resident memory, as summed PSS, of the driver
process, its JVM and its Python workers over the run; the traced run
reports it as ``session.peak_rss_mb``) and ``failed_ratio`` (carried by
``attempted``/``failed``).

``--trace 1`` measures with Spark's event log on and the package's layer
entry points wrapped in spans, and prints the per-layer metrics plus the
tracing overhead: traced ``wall_s`` minus the wall time of one more call
made in the same session with every span a no-op. The event log's own
cost is not in it: it is on for the whole session.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".perfbench_runs")
SETUP_REPEATS = 3
WORKLOADS = ("find_compare_batch", "registry_sf0.01")


def _hermetic_env(run_root: str, cores: int) -> None:
    """Point every temp and import path at this run and this checkout.
    Must run before pyspark or the package is imported."""
    tmp = os.path.join(run_root, "tmp")
    local = os.path.join(run_root, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the driver JVM's own temp files (stream checkpoints among them)
    java_opts = os.environ.get("JDK_JAVA_OPTIONS", "")
    os.environ["JDK_JAVA_OPTIONS"] = f"{java_opts} -Djava.io.tmpdir={tmp}".strip()
    # Python workers are started by the JVM: they must import this tree
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    sys.path.insert(0, ROOT)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(dirpath, n))
            except OSError:
                pass
    return total


class Runner:
    def __init__(self, args, run_root: str, cores: int):
        from workloads import FindCompareBatch, Registry

        self.args = args
        self.run_root = run_root
        self.cores = cores
        if args.workload == "find_compare_batch":
            self.wl = FindCompareBatch()
        else:
            self.wl = Registry(os.path.join(HERE, "data", "sf0.01"), ROOT)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.notes: dict[str, str] = {}

    def session(self, event_dir: str | None):
        from data_finder_comparator_spark.session import get_spark

        extra = None
        if event_dir:
            os.makedirs(event_dir)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
            }
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{self.args.workload}", extra_conf=extra)
        return spark, time.perf_counter() - t0

    def call(self, spark, spans, warm_up: bool = False):
        from workloads import Call

        try:
            c = self.wl.call(spark, spans, warm_up=warm_up)
            failed = len(c.errors)  # one per failed or mismatched op
        except Exception as e:  # noqa: BLE001 - a failed call is counted, the run goes on
            c = Call(math.nan, [], self.wl.ops_per_call, 0, [f"{type(e).__name__}: {str(e)[:500]}"])
            failed = self.wl.ops_per_call
        self.attempted += c.attempted
        self.failed += failed
        self.errors += c.errors
        return c

    def measure(self, spark, spans):
        """Run calls until their timed work adds up to ``--seconds`` (at
        least one call); untimed checks and resets do not count. Returns
        the calls that completed (a call whose output mismatched still
        timed a full execution)."""
        calls = []
        timed = 0.0
        while timed < self.args.seconds:
            c = self.call(spark, spans)
            calls.append(c)
            if not c.ops:  # the call raised: nothing was timed
                break
            timed += c.wall_s
        return [c for c in calls if c.ops]

    def run(self, traced: bool):
        """One measurement in this process: session, set-up, one warm-up
        call, then calls for ``--seconds``. Returns the end-to-end
        metrics, and with ``traced`` also the per-layer ones."""
        from tracing import ProgressListener, RssSampler, Spans
        from workloads import trace_layers

        event_dir = os.path.join(self.run_root, "events") if traced else None
        with RssSampler() as rss:
            spark, session_s = self.session(event_dir)
            prep = []
            for i in range(1 if traced else SETUP_REPEATS):
                t0 = time.perf_counter()
                self.wl.prepare(self.args.seed, os.path.join(self.run_root, "inputs", f"rep{i}"))
                prep.append(time.perf_counter() - t0)
            spans = Spans(spark, enabled=traced)
            trace_layers(spans)
            # streaming progress is tracing too: an untraced run pays for
            # no listener callbacks
            listener = ProgressListener() if traced else None
            if listener:
                spark.streams.addListener(listener)
            try:
                t0 = time.perf_counter()
                self.call(spark, spans, warm_up=True)
                warm_s = time.perf_counter() - t0
                spans.records.clear()
                if listener:
                    listener.take()
                done = self.measure(spark, spans)
                batches = listener.take() if listener else []
                leftover = _dir_bytes(os.environ["TMPDIR"])
                if traced:
                    # one more call with every span a no-op: traced minus
                    # its wall time is the spans' overhead
                    spans.enabled = False
                    self.untraced_wall_s = self.call(spark, spans).wall_s
            finally:
                spans.unwrap_all()
                spark.stop()
        if not done:
            return None, None
        self.peak_rss = (rss.peak / 2**20, "MB")
        self.notes["peak_rss_mb"] = rss.breakdown()
        self.notes["setup_s"] = (
            f"session {session_s:.2f} s + prepare {statistics.median(prep):.2f} s "
            f"(median of {len(prep)}) + warm-up {warm_s:.2f} s"
        )
        setup_s = session_s + statistics.median(prep) + warm_s
        e2e = self.end_to_end(done, setup_s)
        if not traced:
            return e2e, None
        from eventlog import EventLog
        from layers import layer_metrics

        layers = layer_metrics(
            self.wl, done, spans, batches, EventLog.read(event_dir), self.cores, session_s, leftover
        )
        layers["session.peak_rss_mb"] = self.peak_rss
        os.makedirs(RUNS, exist_ok=True)
        out = os.path.join(RUNS, f"trace-{self.args.workload}-seed{self.args.seed}.json")
        with open(out, "w") as f:
            json.dump({"per_layer": {k: v[0] for k, v in layers.items()}, "spans": spans.records}, f)
        return e2e, layers

    def end_to_end(self, done, setup_s):
        wall = statistics.median(c.wall_s for c in done)
        ops = [o for c in done for o in c.ops]
        # a run has too few ops for a percentile above the median with
        # ten ops beyond it, so the tail is the slowest op
        slowest, tail = max(ops, key=lambda o: o[1])
        walls = ", ".join(f"{c.wall_s:.2f}" for c in done)
        self.notes["calls"] = f"{len(done)} calls ({walls} s), {len(ops)} ops"
        self.op_tail = (tail, f"{slowest}, the slowest of {len(ops)} ops")
        return {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall, "s"),
            "probes_per_s": (done[0].probes / wall, "probes/s"),
            "op_p50_s": (statistics.median(s for _, s in ops), "s"),
        }


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the driver JVM to exit (it
    exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _declared(metrics: dict, section: str) -> dict:
    """``metrics`` as BENCHMARK.json declares them: same names, same
    units, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = {m["name"]: m["unit"] for m in json.load(f)[section]}
    got = {k: u for k, (_, u) in metrics.items()}
    if got != spec:
        raise RuntimeError(f"metrics differ from BENCHMARK.json {section}: {got} vs {spec}")
    return {k: {"value": metrics[k][0], "unit": u} for k, u in spec.items()}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    cores = len(os.sched_getaffinity(0))
    os.makedirs(RUNS, exist_ok=True)
    run_root = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=RUNS)
    try:
        _hermetic_env(run_root, cores)
        try:
            import data_finder_comparator_spark  # noqa: F401
            import pyspark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: cannot import the package under test from {ROOT}: {e}", file=sys.stderr)
            return 2
        runner = Runner(args, run_root, cores)
        e2e, layers = runner.run(traced=bool(args.trace))
    finally:
        if "pyspark" in sys.modules:
            _stop_jvm()
        shutil.rmtree(run_root, ignore_errors=True)
    for err in runner.errors[:10]:
        print(f"MISMATCH {err}", file=sys.stderr)
    if e2e is None:
        print("perfbench: no call completed", file=sys.stderr)
        return 1

    attempted, failed = runner.attempted, runner.failed
    if args.trace:
        layers["trace.wall_s"] = e2e["wall_s"]
        layers["trace.overhead_s"] = (e2e["wall_s"][0] - runner.untraced_wall_s, "s")
        print(f"# {args.workload} seed={args.seed} cores={cores} traced: {runner.notes['calls']}; "
              f"without spans: {runner.untraced_wall_s:.2f} s")
        metrics = layers
    else:
        print(f"# {args.workload} seed={args.seed} cores={cores} {runner.notes['calls']}")
        print(f"# inputs: {runner.wl.describe()}")
        metrics = e2e
    for k, (v, u) in metrics.items():
        note = f"  ({runner.notes[k]})" if k in runner.notes and not args.trace else ""
        print(f"{k} = {v:.6g} {u}{note}")
    if not args.trace:
        # printed, not in the result: the slowest op is one run of one
        # query and follows the shared host's speed further than the call
        # does (its spread between seeds reached 0.41 where wall_s's was
        # 0.26); the peak varies by up to a quarter between identical runs
        # (the JVM grows its heap lazily); the failed ratio is 0 on every
        # correct run
        print(f"op_tail_s = {runner.op_tail[0]:.6g} s  ({runner.op_tail[1]})")
        print(f"peak_rss_mb = {runner.peak_rss[0]:.6g} MB  ({runner.notes['peak_rss_mb']})")
        print(f"failed_ratio = {failed}/{attempted} = {failed / attempted:.4g} ratio")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": _declared(metrics, "per_layer" if args.trace else "end_to_end"),
    }))
    sys.stdout.flush()
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
