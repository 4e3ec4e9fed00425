"""Expected outputs, computed by DuckDB from the generated files.

The tier and keep/replace SQL are the package's own registered oracles
(``fuzzy_join_tiers`` and ``keep_replace_curation``), re-pointed at the
generated search table and catalog folder.
"""

from __future__ import annotations

import glob
import importlib.util
import math
import os
from collections import Counter

import duckdb

from data_finder_comparator_spark.plans.catalog import ORACLES
from data_finder_comparator_spark.plans.queries_fuzzy import tier_oracle_sql

_SEARCH_IDS = (
    "search_ids AS (SELECT *, row_number() OVER (ORDER BY sku, discount, price) "
    "AS probe_id FROM search),\n"
)
_PROBES = "probes AS (SELECT probe_id, sku AS probe FROM search_ids)"
_CANDS = "cands AS (SELECT row_number() OVER () AS cand_id, sku AS cand FROM catalog)"


def _curation_sql() -> str:
    """keep_replace_curation's SQL with its tier input swapped for the
    ``tiers`` table of the generated inputs; yields one (probe_id,
    probe, action, final_key) row per probe."""
    flagship, curation = ORACLES["fuzzy_join_tiers"], ORACLES["keep_replace_curation"]
    if curation.count(flagship) != 1:
        raise RuntimeError("keep_replace_curation oracle no longer embeds fuzzy_join_tiers")
    return curation.replace(flagship, "SELECT * FROM tiers")


def _row(r) -> tuple:
    return tuple(round(v, 6) if isinstance(v, float) and not math.isnan(v) else v for v in r)


def rows_multiset(rows) -> Counter:
    return Counter(_row(r) for r in rows)


class FindCompareOracle:
    """Precomputed expected outputs for one set of generated inputs, and
    ``mix``: how many probes land in each tier class (exact, near, tie,
    poor), how many rows repeat an earlier probe, and how many probes
    the curation keeps or replaces."""

    def __init__(self, inputs: dict, threshold: int):
        con = duckdb.connect()
        try:
            search = sorted(glob.glob(os.path.join(inputs["search"], "*.parquet")))
            catalog = sorted(glob.glob(os.path.join(inputs["catalog"], "*.parquet")))
            seed = sorted(glob.glob(os.path.join(inputs["sink_seed"], "*.parquet")))
            con.execute(f"CREATE VIEW search AS SELECT * FROM read_parquet({search!r})")
            con.execute(
                f"CREATE VIEW catalog AS SELECT * FROM read_parquet({catalog!r}, union_by_name=true)"
            )
            con.execute(f"CREATE VIEW seed AS SELECT * FROM read_parquet({seed!r})")
            con.execute(f"CREATE TABLE tiers AS {tier_oracle_sql(_PROBES, _CANDS, _SEARCH_IDS, threshold)}")
            self.tier_rows = con.execute("SELECT count(*) FROM tiers").fetchone()[0]
            # each probe by the best tier it reached; a tie has more than
            # one candidate at the minimum distance
            mix = con.execute(
                """SELECT class, count(*) FROM (
                     SELECT CASE WHEN bool_or(tier = 'exact') THEN 'exact'
                                 WHEN count(*) FILTER (WHERE tier = 'best') > 1 THEN 'tie'
                                 WHEN bool_or(tier = 'best') THEN 'near'
                                 ELSE 'poor' END AS class
                     FROM tiers GROUP BY probe_id)
                   GROUP BY class"""
            ).fetchall()
            repeated = con.execute("SELECT count(*) - count(DISTINCT sku) FROM search").fetchone()[0]
            con.execute(f"CREATE TABLE decisions AS {_curation_sql()}")
            con.execute(
                f"""CREATE TABLE curated AS
                WITH {_SEARCH_IDS.rstrip(',' + chr(10))}
                SELECT CASE WHEN d.action = 'replace' THEN d.final_key ELSE s.sku END AS sku,
                       s.discount, s.price
                FROM search_ids s LEFT JOIN decisions d USING (probe_id)"""
            )
            actions = con.execute("SELECT action, count(*) FROM decisions GROUP BY action").fetchall()
            self.mix = {k: 0 for k in ("exact", "near", "tie", "poor", "keep", "replace")}
            self.mix.update(mix)
            self.mix.update(actions)
            self.mix["repeated"] = repeated
            self.upserted = rows_multiset(
                con.execute(
                    """SELECT sku, discount, price FROM seed
                       WHERE sku NOT IN (SELECT sku FROM curated)
                       UNION ALL SELECT sku, discount, price FROM curated"""
                ).fetchall()
            )
        finally:
            con.close()


def check_rows(got_rows, expected: Counter) -> str | None:
    """None when ``got_rows`` equals ``expected`` as a multiset, else a
    short description of the difference."""
    got = rows_multiset(got_rows)
    if got == expected:
        return None
    missing = list((expected - got).elements())[:3]
    extra = list((got - expected).elements())[:3]
    return (
        f"{sum(got.values())} rows vs {sum(expected.values())} expected; "
        f"missing {missing}, unexpected {extra}"
    )


def load_registry_compare(root: str):
    """The repository's own Spark-vs-DuckDB comparison (tests/oracle.py),
    imported from the checkout under test."""
    path = os.path.join(root, "tests", "oracle.py")
    spec = importlib.util.spec_from_file_location("_graft_registry_oracle", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.compare
