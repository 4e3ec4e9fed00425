"""The benchmark's workloads.

Each workload makes its inputs and expected outputs from the seed
(``prepare``, no Spark) and runs calls through the package's public
entry points (``call``), checking each call's whole output against the
oracle; the warm-up call is not checked.
A call is the unit ``wall_s`` times; its ops are the units behind
``op_p50_s`` and ``op_tail_s``.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

from data_finder_comparator_spark import pipeline
from data_finder_comparator_spark.operators import curation, fuzzy_join
from data_finder_comparator_spark.plans import catalog
from data_finder_comparator_spark.config import EngineConfig
from data_finder_comparator_spark.sources import parquet

from eventlog import WORKER_SPAWN
from gen import write_inputs
from oracle import FindCompareOracle, check_rows, load_registry_compare

THRESHOLD = 3


@dataclass
class Call:
    """One timed call: its wall time, its ops as (name, seconds), the ops
    it attempted, the probes it curated, one error per failed or
    mismatched op, worker-spawn retries and workload-specific counts."""

    wall_s: float
    ops: list[tuple[str, float]]
    attempted: int
    probes: int
    errors: list[str] = field(default_factory=list)
    retries: int = 0
    extra: dict = field(default_factory=dict)


def trace_layers(spans) -> None:
    """Span every call into the layer entry points a workload reaches."""
    spans.wrap(pipeline.read_folder, "sources.read")
    spans.wrap(parquet.load_table, "sources.read")
    spans.wrap(fuzzy_join.tiered_fuzzy_join, "operators.fuzzy_join")
    spans.wrap(curation.append_sink, "operators.curation.sink")
    spans.wrap(curation.upsert_sink, "operators.curation.sink")


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under a parquet output directory."""
    files = nbytes = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                nbytes += os.path.getsize(os.path.join(dirpath, n))
    return files, nbytes


def _retrying(fn, spark):
    """``(fn(), retries)``: ``fn`` runs once more when it dies with the
    known worker-spawn signature; any other failure propagates."""
    try:
        return fn(), 0
    except Exception as e:  # noqa: BLE001 - only the spawn signature is retried
        if WORKER_SPAWN not in str(e):
            raise
        spark.catalog.clearCache()
        return fn(), 1


class FindCompareBatch:
    """One Keep/Replace pass, ``run_find_compare(cfg, upsert=True)``, of a
    seeded SKU search table against a 4-file catalog folder 10x its size,
    into a keyed sink reset (untimed) to the same seeded state before
    every call. One call is one op."""

    name = "find_compare_batch"
    n_search = 150
    n_catalog = 1500
    ops_per_call = 1

    def prepare(self, seed: int, work_dir: str) -> None:
        self.inputs = write_inputs(work_dir, seed, self.n_search, self.n_catalog)
        self.oracle = FindCompareOracle(self.inputs, THRESHOLD)
        self.sink = os.path.join(work_dir, "sink")
        self.cfg = EngineConfig(
            search_path=self.inputs["search"],
            data_folder=self.inputs["catalog"],
            output_path=self.sink,
            threshold=THRESHOLD,
        )

    def describe(self) -> str:
        """The probe mix the generated inputs really produce."""
        return " ".join(f"{k}={v}" for k, v in self.oracle.mix.items())

    def _reset_sink(self) -> None:
        for p in (self.sink, self.sink + ".staging", self.sink + ".old"):
            if os.path.exists(p):
                shutil.rmtree(p)
        shutil.copytree(self.inputs["sink_seed"], self.sink)

    def call(self, spark, spans, warm_up: bool = False) -> Call:
        def once() -> float:
            self._reset_sink()
            with spans.span("op"):
                t0 = time.perf_counter()
                pipeline.run_find_compare(spark, self.cfg, upsert=True)
                return time.perf_counter() - t0

        wall, retries = _retrying(once, spark)
        files, nbytes = _dir_stats(self.sink)
        errors = []
        if not warm_up:
            rows = spark.read.parquet(self.sink).select("sku", "discount", "price").collect()
            err = check_rows(rows, self.oracle.upserted)
            if err:
                errors.append(err)
        spark.catalog.clearCache()
        return Call(
            wall, [("run_find_compare", wall)], 1, self.inputs["n_search"], errors, retries,
            {"files_written": files, "bytes_written": nbytes},
        )

    def tier_rows_per_op(self) -> int:
        return self.oracle.tier_rows


# One registered query per layer family, chosen so that a pass reaches a
# pandas UDF (the alignment UDF that count() would prune away), streaming
# analytics, text ops, a folder-union source, dedup, the fuzzy top-k join,
# exact cosine top-k, a lakehouse append/merge/read and relational code
# inside one run's time budget: a full registry pass takes minutes on four
# cores, and every query's first run in a fresh JVM costs several times
# its warm run. Each takes at most about 2 s warm on four cores.
REGISTRY_SUBSET = (
    "alignment_dist",
    "streaming_window_counts",
    "pii_redaction",
    "union_by_name_folder",
    "dedup_exact",
    "fuzzy_topk",
    "ann_cosine_topk",
    "lakehouse_schema_evolution",
    "pricing_summary",
)


class Registry:
    """Registered queries from ``plans.catalog.QUERIES`` at sf0.01, one at
    a time, each fully evaluated by Spark's ``noop`` sink, with caches
    released between queries. A call is one pass over the subset in an
    order the seed permutes; one query is one op. Each query's output is
    checked once, after the first measured call."""

    name = "registry_sf0.01"
    ops_per_call = len(REGISTRY_SUBSET)

    def __init__(self, data_dir: str, root: str):
        self.sf_dir = data_dir
        self.compare = load_registry_compare(root)

    def prepare(self, seed: int, work_dir: str) -> None:
        missing = [n for n in REGISTRY_SUBSET if n not in catalog.ORACLES]
        if missing:
            raise RuntimeError(f"registry queries without an oracle: {missing}")
        self.rng = random.Random(seed)
        self.checked: set[str] = set()
        self.module_of = {
            n: catalog.QUERIES[n].__module__.rsplit(".", 1)[-1] for n in REGISTRY_SUBSET
        }

    def describe(self) -> str:
        return f"{len(REGISTRY_SUBSET)} queries"

    def call(self, spark, spans, warm_up: bool = False) -> Call:
        order = list(REGISTRY_SUBSET)
        self.rng.shuffle(order)
        ops, errors = [], []
        to_check: dict[str, object] = {}
        retries = 0
        for name in order:
            module = self.module_of[name]

            def once():
                with spans.span("op", query=name, module=module):
                    t0 = time.perf_counter()
                    with spans.span("plans.build", query=name, module=module):
                        df = catalog.QUERIES[name](spark, self.sf_dir)
                    with spans.span("plans.action", query=name, module=module):
                        df.write.format("noop").mode("overwrite").save()
                    return df, time.perf_counter() - t0

            try:
                (df, op_s), retried = _retrying(once, spark)
                retries += retried
                ops.append((name, op_s))
                if not warm_up and name not in self.checked:
                    to_check[name] = df
            except Exception as e:  # noqa: BLE001 - a failed query is counted; the pass goes on
                errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            finally:
                catalog.release_caches()
                spark.catalog.clearCache()
        # checks re-execute the queries, so they run after the timed pass
        for name, df in to_check.items():
            self.checked.add(name)
            try:
                ok, msg = self.compare(df, catalog.ORACLES[name], self.sf_dir)
            except Exception as e:  # noqa: BLE001 - a failed check is a failed op
                ok, msg = False, f"{type(e).__name__}: {str(e)[:300]}"
            if not ok:
                errors.append(f"{name}: {msg}")
            catalog.release_caches()
            spark.catalog.clearCache()
        return Call(
            sum(s for _, s in ops), ops, len(order), len(order), errors, retries
        )

    def tier_rows_per_op(self) -> int:
        return 0
