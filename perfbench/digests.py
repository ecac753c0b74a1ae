"""Recomputes perfbench/oracle_digests.json: for each gate_mix gate, the
digest of the DuckDB oracle's answer (`graft.SparkEntry.oracleSql`) on the
read-only sf0.1 tables. A full oracle run of the gates takes minutes, so
the benchmark compares against these stored digests instead.

    python3 perfbench/digests.py     (from the root of a checkout)
"""
import glob
import json
import os

import duckdb

import run


def main():
    run.ensure_built()
    sf = run.sf_dir()
    out = os.path.join(run.BUILD, "oracle")
    os.makedirs(out, exist_ok=True)
    _, sql = run.launch(["--workload", "oracle", "--out", out,
                         "--gates", ",".join(run.GATES)], out)
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    digests = {g: run.canonical_digest(con, sql[g]) for g in run.GATES}
    with open(run.DIGESTS, "w") as f:
        json.dump({"tables": "sf0.1", "digests": digests}, f, indent=1,
                  sort_keys=True)
        f.write("\n")
    print(json.dumps(digests, indent=1))


if __name__ == "__main__":
    main()
