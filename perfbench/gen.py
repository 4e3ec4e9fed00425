"""Seeded SKU inputs for the find/compare workloads.

Everything is written with pyarrow, so the program under test only ever
sees parquet files. The same seed always gives the same files.

Probe mix (raw SKU lengths 6-22, with ``-``, ``/``, spaces and regex
metacharacters). Of the distinct probes:

* 20% are exact after normalization: a catalog SKU re-cased and
  re-punctuated;
* 55% are near: 1-3 edits from a catalog SKU, a quarter of them built as
  ties (one edit from each of two catalog siblings);
* 25% are far: long random SKUs meant to have no catalog SKU within 3
  edits, which sends the probe to the ``poor`` fallback.

On top of those, 5% of the rows repeat an earlier probe. The tiers a
probe really lands in are what DuckDB computes on these files: the
oracle counts them (``FindCompareOracle.mix``) and the run prints them.
"""

from __future__ import annotations

import os
import random
import string

import pyarrow as pa
import pyarrow.parquet as pq

ALNUM = string.ascii_uppercase + string.digits
SEPS = "-/ "
META = "()+.*[]?$^|\\"

# catalog files with overlapping, non-identical schemas (FIXTURES.md A2)
CATALOG_SCHEMAS = (
    ("sku", "discount", "price"),
    ("sku", "discount", "supplier"),
    ("sku", "price", "supplier"),
    ("supplier", "sku", "price", "discount"),
)
_TYPES = {"sku": pa.string(), "supplier": pa.string(), "discount": pa.float64(), "price": pa.float64()}


def _alnum(rng: random.Random, n: int) -> str:
    return "".join(rng.choice(ALNUM) for _ in range(n))


def _punctuate(rng: random.Random, core: str, total: int) -> str:
    """Insert separators/metacharacters into ``core`` until it is
    ``total`` characters long."""
    chars = list(core)
    while len(chars) < total:
        pos = rng.randint(1, len(chars) - 1)
        chars.insert(pos, rng.choice(SEPS if rng.random() < 0.7 else META))
    return "".join(chars)


def _sku(rng: random.Random, min_core: int = 5) -> str:
    total = rng.randint(max(6, min_core), 22)
    core = rng.randint(min_core, total) if total > min_core else min_core
    return _punctuate(rng, _alnum(rng, core), total)


def _recase_repunct(rng: random.Random, sku: str) -> str:
    """Same normalized key, different raw string."""
    core = [c for c in sku if c.isalnum()]
    out = [c.lower() if rng.random() < 0.5 else c for c in core]
    total = max(6, len(out) + rng.randint(1, 3))
    return _punctuate(rng, "".join(out), min(22, total))


def _edit(rng: random.Random, sku: str, n_edits: int) -> str:
    chars = list(sku)
    for _ in range(n_edits):
        alnum_pos = [i for i, c in enumerate(chars) if c.isalnum()]
        ops = "s" + ("i" if len(chars) < 22 else "") + ("d" if len(alnum_pos) > 6 else "")
        op = rng.choice(ops)
        i = rng.choice(alnum_pos)
        if op == "s":
            chars[i] = rng.choice([c for c in ALNUM if c != chars[i].upper()])
        elif op == "i":
            chars.insert(i, rng.choice(ALNUM))
        else:
            del chars[i]
    return "".join(chars)


def _payload(rng: random.Random) -> tuple[float, float]:
    return round(rng.uniform(0.0, 0.5), 2), round(rng.uniform(1.0, 999.0), 2)


def make_inputs(seed: int, n_search: int, n_catalog: int) -> tuple[list[dict], list[dict], list[dict]]:
    """Return (search rows, catalog rows, upsert seed rows)."""
    rng = random.Random(seed)
    catalog: list[str] = []
    search: list[str] = []
    n_dup = round(n_search * 0.05)
    n_distinct = n_search - n_dup
    n_exact = round(n_distinct * 0.20)
    n_near = round(n_distinct * 0.55)
    n_far = n_distinct - n_exact - n_near
    for _ in range(n_exact):
        base = _sku(rng)
        catalog.append(base)
        search.append(_recase_repunct(rng, base))
    for k in range(n_near):
        base = _sku(rng, min_core=7)
        catalog.append(base)
        if k % 4 == 0:
            # tie: the probe sits one substitution from base and from its
            # sibling, which differs from base in two positions
            pos = [i for i, c in enumerate(base) if c.isalnum()]
            i, j = rng.sample(pos, 2)
            sib = list(base)
            sib[i] = rng.choice([c for c in ALNUM if c != base[i]])
            sib[j] = rng.choice([c for c in ALNUM if c != base[j]])
            catalog.append("".join(sib))
            probe = list(base)
            probe[i] = sib[i]
            search.append("".join(probe))
        else:
            search.append(_edit(rng, base, rng.randint(1, 3)))
    for _ in range(n_far):
        search.append(_sku(rng, min_core=12))
    for _ in range(n_dup):
        search.append(rng.choice(search))
    while len(catalog) < n_catalog:
        catalog.append(_sku(rng))
    rng.shuffle(search)
    rng.shuffle(catalog)

    search_rows = []
    for s in search:
        d, p = _payload(rng)
        search_rows.append({"sku": s, "discount": d, "price": p})
    catalog_rows = []
    for s in catalog:
        d, p = _payload(rng)
        catalog_rows.append({"sku": s, "discount": d, "price": p, "supplier": f"S{rng.randint(1, 40):02d}"})
    # the keyed sink before the run: some search keys, some catalog keys
    # (future replacement targets) and some keys nothing will touch
    keys = rng.sample(search, len(search) // 3) + rng.sample(catalog, len(search) // 5)
    keys += [_sku(rng, min_core=12) for _ in range(len(search) // 5)]
    seed_rows = []
    for s in keys:
        d, p = _payload(rng)
        seed_rows.append({"sku": s, "discount": d, "price": p})
    return search_rows, catalog_rows, seed_rows


def _write(rows: list[dict], cols: tuple[str, ...], path: str) -> None:
    table = pa.table({c: pa.array([r[c] for r in rows], type=_TYPES[c]) for c in cols})
    pq.write_table(table, path)


def write_inputs(root: str, seed: int, n_search: int, n_catalog: int) -> dict[str, object]:
    """Write the search table, the catalog folder (one file per entry of
    CATALOG_SCHEMAS) and the upsert seed under ``root``; return their
    paths and row counts."""
    search, catalog, seed_rows = make_inputs(seed, n_search, n_catalog)
    paths = {k: os.path.join(root, k) for k in ("search", "catalog", "sink_seed")}
    for p in paths.values():
        os.makedirs(p)
    _write(search, ("sku", "discount", "price"), os.path.join(paths["search"], "part-0000.parquet"))
    nf = len(CATALOG_SCHEMAS)
    for f, cols in enumerate(CATALOG_SCHEMAS):
        _write(catalog[f::nf], cols, os.path.join(paths["catalog"], f"cat-{f}.parquet"))
    _write(seed_rows, ("sku", "discount", "price"), os.path.join(paths["sink_seed"], "part-0000.parquet"))
    return {**paths, "n_search": len(search), "n_catalog": len(catalog), "n_seed": len(seed_rows)}
