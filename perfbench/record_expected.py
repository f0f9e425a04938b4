"""Record ``perfbench/expected.json``, the outputs every run is checked
against.

    python3 perfbench/record_expected.py [--seeds 1 2]

For each workload and each seed it generates the seeded inputs, runs
every step once and digests the outputs. Registry queries must match
the DuckDB oracle (``tools/check_oracle.py``'s row count and value
hash) on the same inputs; every digest must be identical across the
seeds. Only then is the file written.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import duckdb

import workloads as W
from run import CORES, Pass, Runner, configure, stop_spark
from spans import Tracer


def oracle_digest(sql: str, sf_dir: str) -> dict:
    from tools.check_oracle import value_hash
    with duckdb.connect() as con:
        for t in W.TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        rel = con.sql(sql)
        rows = rel.fetchall()
        return {"rows": len(rows), "hash": value_hash(rows, rel.columns)}


def dag_oracle_problems(d: dict, sf_dir: str) -> list[str]:
    """What DuckDB can check of the DAG's outputs: preprocessing keeps
    one row per order with its exact columns unchanged, and every kept
    order gets one prediction."""
    from tools.check_oracle import value_hash
    orders = os.path.join(sf_dir, "orders.parquet")
    with duckdb.connect() as con:
        cols = [c for c, t, *_ in con.sql(f"DESCRIBE SELECT * FROM '{orders}'")
                .fetchall() if t not in ("FLOAT", "DOUBLE")]
        rows = con.sql(f"SELECT DISTINCT {', '.join(cols)} FROM '{orders}'"
                       ).fetchall()
    want = {"rows": len(rows), "hash": value_hash(rows, cols)}
    got = {k: d["orders_clean"][k] for k in want}
    problems = [] if got == want else [f"orders_clean {got} vs {want}"]
    if d["predictions"]["rows"] != want["rows"]:
        problems.append(f"predictions rows {d['predictions']['rows']}")
    return problems


def digest_outputs(runner: Runner) -> dict:
    return {step.name: runner.digest(step, Pass()) for step in runner.wl.steps}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2])
    args = ap.parse_args()
    sys.path.insert(0, W.ROOT)
    from immoeliza_pipeline_spark.harness import all_oracles
    from immoeliza_pipeline_spark.session import get_spark

    work = os.path.join(W.ROOT, ".perfbench_work", f"record-{os.getpid()}")
    configure(work)
    spark = get_spark(app_name="perfbench-record", cpus=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    oracles = all_oracles()
    expected, ok = {}, True
    try:
        for wl in W.WORKLOADS.values():
            per_seed = []
            for seed in args.seeds:
                dirs = W.make_inputs(wl, seed, os.path.join(
                    work, f"{wl.name}-{seed}"))
                got = digest_outputs(Runner(spark, wl, dirs, work, Tracer()))
                for step in wl.steps:
                    name, sf_dir = step.name, dirs[step.scaled]
                    d = got[name]
                    if name == W.DAG:
                        problems = dag_oracle_problems(d, sf_dir)
                        ok &= not problems
                        print(f"{wl.name} seed {seed} {name}: oracle "
                              f"{problems or 'match'}")
                    elif name in oracles:
                        want = oracle_digest(oracles[name], sf_dir)
                        match = want == d
                        ok &= match
                        print(f"{wl.name} seed {seed} {name}: {d} "
                              f"oracle {'match' if match else want}")
                per_seed.append(got)
            same = not any(W.diff_digest(s, per_seed[0]) for s in per_seed[1:])
            ok &= same
            print(f"{wl.name}: digests identical across seeds "
                  f"{args.seeds}: {same}")
            expected[wl.name] = per_seed[0]
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if not ok:
        print("not written: an oracle or seed mismatch is listed above")
        return 1
    with open(W.EXPECTED_PATH, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {W.EXPECTED_PATH}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
