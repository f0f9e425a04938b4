"""The benchmark's workloads: seeded inputs, the steps of one pass, and
the checks on every output.

Inputs are copies of the sf0.01 tables in ``perfbench/data``. The seed
only permutes the row order of each copy, so table contents, and
therefore every expected output, are the same for every seed.
"""

from __future__ import annotations

import glob
import json
import math
import os
import subprocess
import sys
from dataclasses import dataclass

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BASE_DIR = os.path.join(HERE, "data", "sf0.01")
EXPECTED_PATH = os.path.join(HERE, "expected.json")
TABLES = tuple("region nation customer supplier part orders lineitem events "
               "documents embeddings".split())
SCALE = 10
# Published float columns are sums over a seed-dependent row order, so
# they are compared by relative tolerance, not bit for bit.
FLOAT_RTOL = 1e-6
DAG = "immoeliza_pipeline"
DAG_DATASETS = ("orders_clean", "ols_model", "predictions")
MODEL_FIELDS = ("rmse", "r2", "reg_param")


@dataclass(frozen=True)
class Step:
    name: str                   # a registry query, or DAG for the pipeline
    tables: tuple[str, ...]     # the input tables it reads
    scaled: bool = False        # reads the 10x replica, not the seeded copy


@dataclass(frozen=True)
class Workload:
    name: str
    steps: tuple[Step, ...]

    @property
    def scaled(self) -> bool:
        return any(s.scaled for s in self.steps)


WORKLOADS = {
    "weekly_dag": Workload("weekly_dag", steps=(
        Step("stream_enriched_counts", ("events", "customer")),
        Step(DAG, ("orders",)))),
    "corpus_10x": Workload("corpus_10x", steps=(
        Step("llm_corpus_build", ("documents",), scaled=True),
        Step("kmeans_clusters", ("embeddings",)))),
}


def make_inputs(wl: Workload, seed: int, out_dir: str) -> dict[bool, str]:
    """Write the workload's seeded input tables under ``out_dir``.
    Returns the directory each step reads, keyed by ``Step.scaled``."""
    base = os.path.join(out_dir, "base")
    # the replica tool scales every table; otherwise copy what is read
    permuted_copy(BASE_DIR, base, seed, TABLES if wl.scaled else
                  tuple(sorted({t for s in wl.steps for t in s.tables})))
    dirs = {False: base}
    if wl.scaled:
        dirs[True] = os.path.join(out_dir, f"x{SCALE}")
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "make_scale_data.py"),
             base, dirs[True], str(SCALE)],
            check=True, stdout=subprocess.DEVNULL, cwd=ROOT)
    return dirs


def permuted_copy(src_dir: str, out_dir: str, seed: int,
                  tables: tuple[str, ...]) -> None:
    """Copy each table with its rows in an order fixed by ``seed``."""
    os.makedirs(out_dir)
    con = duckdb.connect()
    try:
        for t in tables:
            src = os.path.join(src_dir, f"{t}.parquet")
            con.execute(
                f"COPY (SELECT * EXCLUDE (file_row_number) FROM "
                f"read_parquet('{src}', file_row_number = true) "
                f"ORDER BY hash(file_row_number, {int(seed)}), "
                f"file_row_number) "
                f"TO '{os.path.join(out_dir, t)}.parquet' (FORMAT PARQUET)")
    finally:
        con.close()


def input_rows(wl: Workload, dirs: dict[bool, str]) -> int:
    """Rows of every table the workload's steps read, counted once per
    table and input directory."""
    read = {(t, s.scaled) for s in wl.steps for t in s.tables}
    with duckdb.connect() as con:
        return sum(con.sql(f"SELECT count(*) FROM "
                           f"'{os.path.join(dirs[sc], t)}.parquet'"
                           ).fetchone()[0] for t, sc in sorted(read))


def load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


# ---- output digests ---------------------------------------------------

def frame_digest(df) -> dict:
    """Row count and the order-insensitive value hash that
    ``tools/check_oracle.py`` compares against the DuckDB oracle."""
    from tools.check_oracle import value_hash
    rows = [tuple(r) for r in df.collect()]
    return {"rows": len(rows), "hash": value_hash(rows, df.columns)}


def dataset_digest(path_glob: str) -> dict:
    """Digest of one published parquet dataset: row count, value hash
    of its exact columns, and the sum of each float column."""
    from tools.check_oracle import value_hash
    with duckdb.connect() as con:
        rel = con.sql(f"SELECT * FROM read_parquet('{path_glob}', "
                      f"hive_partitioning = false)")
        floats = [c for c, t in zip(rel.columns, rel.types)
                  if str(t) in ("FLOAT", "DOUBLE")]
        exact = [c for c in rel.columns if c not in floats]
        rows = rel.select(*exact).fetchall() if exact else []
        n = rel.count("*").fetchone()[0]
        sums = {c: rel.sum(c).fetchone()[0] for c in floats}
    return {"rows": n, "hash": value_hash(rows, exact), "float_sums": sums}


def dag_digest(out_dir: str, model_row: dict) -> dict:
    digest = {ds: dataset_digest(os.path.join(out_dir, ds, "v=*", "*.parquet"))
              for ds in DAG_DATASETS}
    digest["model"] = model_row
    return digest


def _close(a: float | None, b: float | None) -> bool:
    if a is None or b is None:
        return a is b
    return math.isclose(a, b, rel_tol=FLOAT_RTOL, abs_tol=1e-9)


def diff_digest(got: dict, want: dict) -> list[str]:
    """Mismatches between a digest and its expected value (empty = ok).
    Floats compare within ``FLOAT_RTOL``; everything else exactly."""
    problems = []
    for k, w in want.items():
        g = got.get(k)
        if isinstance(w, dict):
            problems += [f"{k}.{p}" for p in diff_digest(g or {}, w)]
        elif isinstance(w, float) or isinstance(g, float):
            if not _close(g, w):
                problems.append(f"{k}: {g!r} != {w!r}")
        elif g != w:
            problems.append(f"{k}: {g!r} != {w!r}")
    return problems


def published_bytes(out_dir: str) -> int:
    return sum(os.path.getsize(p) for p in
               glob.glob(os.path.join(out_dir, "**", "*"), recursive=True)
               if os.path.isfile(p))
