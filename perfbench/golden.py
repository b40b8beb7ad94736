#!/usr/bin/env python3
"""Regenerates golden/answers.json: the canonical digest of each checked
query's oracle answer (SparkEntry.oracleSql run by DuckDB over data/).

    python3 perfbench/golden.py

Run from the repository root, after the oracle SQL or the data changed.
"""
import json
import os
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
import lib  # noqa: E402
from run import ANSWERS  # noqa: E402

TABLES = ["documents", "embeddings"]


def main():
    import duckdb
    names = sorted(q for qs in ANSWERS.values() for q in qs)
    cp = lib.build()
    with tempfile.TemporaryDirectory(dir=lib.ROOT) as tmp:
        out = os.path.join(tmp, "oracle.json")
        subprocess.run(["java", "-cp", os.pathsep.join(cp), "perfbench.Harness",
                        f"oracle={','.join(names)}", f"out={out}"], check=True)
        with open(out) as fh:
            sql = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{lib.DATA}/{t}.parquet'")
    golden = {q: lib.canonical_digest(con.sql(sql[q]).df()) for q in names}
    with open(lib.GOLDEN, "w") as fh:
        json.dump(golden, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({q: g["rows"] for q, g in golden.items()}))


if __name__ == "__main__":
    main()
