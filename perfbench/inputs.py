"""Seeded benchmark inputs and their DuckDB-side expected results.

Inputs come from the generator functions of
``scripts/gen_scale_corpus.py`` at x1 (sf0.1-equivalent relational
tables, 5,000 documents, 2,000 64-d embeddings).  The region and nation
dimensions are the fixed TPC-H-shaped 5- and 25-row tables the loader
expects.  Both inputs and the oracle side are cached per seed under the
benchmark's work directory, so neither is part of any timed window.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCUMENTS = 5_000
N_EMBEDDINGS = 2_000
RELATIONAL_SCALE = 1
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _generator(root: str):
    path = os.path.join(root, "scripts", "gen_scale_corpus.py")
    spec = importlib.util.spec_from_file_location("gen_scale_corpus", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write_dimensions(out: str) -> None:
    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        ),
        os.path.join(out, "region.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        os.path.join(out, "nation.parquet"),
    )


def ensure_data(root: str, work: str, seed: int) -> str:
    """Directory holding the ten tables for ``seed``; generated once.
    Relational and document streams get independent child seeds, so
    the same seed always yields byte-identical tables."""
    out = os.path.join(work, "data", f"seed-{seed}")
    if os.path.isfile(os.path.join(out, "_COMPLETE")):
        return out
    gen = _generator(root)
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    gen.gen_relational(np.random.default_rng([seed, 1]), RELATIONAL_SCALE, tmp)
    rng = np.random.default_rng([seed, 2])
    pq.write_table(
        gen.gen_documents(rng, N_DOCUMENTS), os.path.join(tmp, "documents.parquet")
    )
    pq.write_table(
        gen.gen_embeddings(rng, N_EMBEDDINGS), os.path.join(tmp, "embeddings.parquet")
    )
    _write_dimensions(tmp)
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def oracle_path(work: str, seed: int, workload: str, definition) -> str:
    """Cache file of a workload's oracle side, keyed by the seed and a
    digest of the workload's definition (query names or script text)."""
    from sparketl import registry

    digest = hashlib.sha1(
        json.dumps(
            [definition, [registry.ORACLES.get(n) for n in definition]]
            if isinstance(definition, list)
            else definition
        ).encode()
    ).hexdigest()[:12]
    return os.path.join(work, "oracle", f"seed-{seed}", f"{workload}-{digest}.json")


def cached_json(path: str, compute):
    """Load ``path`` if present, else compute, store atomically, return."""
    if os.path.isfile(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".partial", "w") as f:
        json.dump(value, f)
    os.replace(path + ".partial", path)
    return value


def query_oracles(data_dir: str, names: list[str]) -> dict:
    """name -> {"columns", "rows"} in ``oracle.canonical_frame`` form,
    or None for a query without a declared oracle (rows-only check)."""
    from sparketl import registry
    from sparketl.oracle import canonical_frame, duckdb_connect

    con = duckdb_connect(data_dir)
    try:
        out = {}
        for name in names:
            sql = registry.ORACLES.get(name)
            if sql is None:
                out[name] = None
                continue
            pdf = con.execute(sql).df()
            out[name] = {
                "columns": sorted(pdf.columns),
                "rows": [list(r) for r in canonical_frame(pdf)],
            }
        return out
    finally:
        con.close()
