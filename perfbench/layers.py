"""Per-layer metrics of a traced measurement, from the spans recorded
around the package's layer entry points and the Spark event log.

Every value is per op (a call on ``find_compare_batch``, a query on
``registry_sf0.01``) except ``streaming.batches`` (per call) and the
``_p50_s``, ``plans.<module>.*``, ``tmp_leftover_bytes`` and ratio
metrics. Every workload reports every metric; a layer a workload does
not reach reads 0.
"""

from __future__ import annotations

import statistics

from eventlog import EventLog, busy_seconds
from tracing import GROUP_PREFIX

QUERY_MODULES = (
    "queries_udf",
    "queries_text",
    "queries_fuzzy",
    "queries_curation",
    "queries_dedup",
    "queries_similarity",
    "queries_lakehouse",
    "queries_relational",
)

PYTHON_RUN = "time to run Python workers"
PYTHON_BOOT = ("time to start Python workers", "time to initialize Python workers")
PYTHON_SENT = "data sent to Python workers"


def _dur(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def layer_metrics(
    wl, calls, spans, batches, log: EventLog, cores: int, session_s: float, leftover: int
) -> dict:
    n_ops = sum(len(c.ops) for c in calls) or 1
    ops = spans.named("op")
    op_wall = _dur(ops)

    def within_ops(job) -> bool:
        return any(s["start"] <= job.submit <= s["end"] for s in ops)

    def groups(name: str) -> set[str]:
        return {f"{GROUP_PREFIX}{s['id']}" for s in spans.named(name)}

    def jobs_in(name: str):
        g = groups(name)
        return log.jobs_where(lambda j: j.group in g)

    op_jobs = log.jobs_where(within_ops)
    op_execs = log.executions_of(op_jobs)
    tasks = log.task_totals(op_jobs)
    stages = log.completed_stages(op_jobs)

    def sql(pred) -> float:
        return log.metric_sum(op_execs, pred) / n_ops

    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (session_s, "s")
    retries = sum(c.retries for c in calls) + tasks.worker_spawn_failures
    m["session.worker_retries"] = (retries / n_ops, "count")

    m["sources.read_s"] = (_dur(spans.named("sources.read")) / n_ops, "s")
    m["sources.scan_rows"] = (tasks.input_rows / n_ops, "rows")
    m["sources.scan_bytes"] = (tasks.input_bytes / n_ops, "bytes")

    m["functions.python_run_s"] = (sql(lambda pm: pm.name == PYTHON_RUN), "s")
    m["functions.python_boot_s"] = (sql(lambda pm: pm.name in PYTHON_BOOT), "s")
    m["functions.python_bytes"] = (sql(lambda pm: pm.name == PYTHON_SENT), "bytes")

    pairs = log.metric_sum(op_execs, lambda pm: pm.feeds_levenshtein and pm.name == "number of output rows")
    tier_rows = wl.tier_rows_per_op() * n_ops
    m["operators.fuzzy_join.build_s"] = (_dur(spans.named("operators.fuzzy_join")) / n_ops, "s")
    m["operators.fuzzy_join.jobs"] = (len(jobs_in("operators.fuzzy_join")) / n_ops, "count")
    m["operators.fuzzy_join.pairs_scored"] = (pairs / n_ops, "pairs")
    m["operators.fuzzy_join.pairs_per_result"] = (pairs / tier_rows if tier_rows else 0.0, "ratio")

    m["operators.curation.sink_s"] = (_dur(spans.named("operators.curation.sink")) / n_ops, "s")
    files = sum(c.extra.get("files_written", 0) for c in calls)
    nbytes = sum(c.extra.get("bytes_written", 0) for c in calls)
    m["operators.curation.files_written"] = (files / n_ops, "count")
    m["operators.curation.bytes_written"] = (nbytes / n_ops, "bytes")

    batches = [b for b in batches if b["rows"] > 0]
    m["streaming.batches"] = (len(batches) / len(calls) if calls else 0.0, "count")
    m["streaming.trigger_p50_s"] = (_median(b["trigger_s"] for b in batches), "s")
    m["streaming.add_batch_p50_s"] = (_median(b["add_batch_s"] for b in batches), "s")
    m["streaming.overhead_p50_s"] = (_median(b["trigger_s"] - b["add_batch_s"] for b in batches), "s")

    for phase in ("build", "action"):
        name = f"plans.{phase}"
        m[f"{name}_s"] = (_dur(spans.named(name)) / n_ops, "s")
        m[f"{name}_jobs"] = (len(jobs_in(name)) / n_ops, "count")
    for mod in QUERY_MODULES:
        for phase in ("build", "action"):
            sp = [s for s in spans.named(f"plans.{phase}") if s.get("module") == mod]
            m[f"plans.{mod}.{phase}_s"] = (_dur(sp) / len(sp) if sp else 0.0, "s")
    m["plans.tmp_leftover_bytes"] = (float(leftover), "bytes")

    busy = sum(busy_seconds(op_jobs, s["start"], s["end"]) for s in ops)
    m["exec.jobs"] = (len(op_jobs) / n_ops, "count")
    m["exec.stages"] = (len(stages) / n_ops, "count")
    m["exec.tasks"] = (tasks.tasks / n_ops, "count")
    m["exec.run_s"] = (tasks.run_s / n_ops, "s")
    m["exec.cpu_s"] = (tasks.cpu_s / n_ops, "s")
    m["exec.gc_s"] = (tasks.gc_s / n_ops, "s")
    m["exec.core_util"] = (tasks.run_s / (cores * op_wall) if op_wall else 0.0, "ratio")
    m["exec.serial_stage_s"] = (sum(s.end - s.submit for s in stages if s.n_tasks == 1) / n_ops, "s")
    m["exec.driver_gap_s"] = ((op_wall - busy) / n_ops, "s")
    m["exec.shuffle_write_bytes"] = (tasks.shuffle_write_bytes / n_ops, "bytes")
    m["exec.shuffle_read_bytes"] = (tasks.shuffle_read_bytes / n_ops, "bytes")
    m["exec.spill_bytes"] = (tasks.spill_bytes / n_ops, "bytes")
    return m
