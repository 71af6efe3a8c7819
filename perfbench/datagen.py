"""Deterministic input tables for the benchmark.

The tables come from the program's own generator, ``tools/gen_soak.py``,
whose ``s1`` tier reproduces the sf0.1 test tier (TESTDATA.md) in row
counts and distributions. Other scale factors scale the ``s1`` row counts
linearly, the way the test tiers do; ``documents`` and ``embeddings``
never drop below 500 rows (as in sf0.001 and sf0.01).

The tables depend only on ``sf`` and ``DATA_SEED``. A run's own seed
permutes the order its keys execute in; it does not change the tables,
so every run of every commit reads identical bytes and the derived
fixtures the program caches on disk stay valid across runs.
"""

from __future__ import annotations

import importlib.util
import os

DATA_SEED = 1042
#: Scale factor of gen_soak's ``s1`` tier.
_S1_SF = 0.1


def load_gen_soak(root: str):
    path = os.path.join(root, "tools", "gen_soak.py")
    mod_spec = importlib.util.spec_from_file_location("gen_soak", path)
    mod = importlib.util.module_from_spec(mod_spec)
    mod_spec.loader.exec_module(mod)
    return mod


def generate(root: str, out_dir: str, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    gs = load_gen_soak(root)
    scale = sf / _S1_SF
    tier = f"sf{sf}"
    gs.REL_TIERS[tier] = tuple(max(1, round(n * scale)) for n in gs.REL_TIERS["s1"])
    n_docs, n_emb = (max(500, round(n * scale)) for n in gs.TIERS["s1"])
    tables = gs.gen_relational(tier, DATA_SEED)
    tables["documents"] = gs.gen_documents(n_docs, DATA_SEED)
    tables["embeddings"] = gs.gen_embeddings(n_emb, DATA_SEED)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        gs.pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
