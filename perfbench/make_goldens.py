#!/usr/bin/env python3
"""Regenerate the goldens the benchmark checks its outputs against.

    python3 perfbench/make_goldens.py --verified DUMP_DIR --correctness CORRECTNESS_r06.json

doc_join.json: for every residue r of doc_id mod 180 (a doc's geometry
depends on nothing else), the tiles its doc joins to in each cell family.
They come from DuckDB running the SQL text of
DocOps.spatialTileAssignments{,S2,Hex}Sql over docs 0..179, not from Spark.

catalog.json: per query, the DuckDB oracle's row count (from the
correctness record) and the checksum of a Spark output that passed
tools/check_oracle.py. DUMP_DIR is that output: the directory Verify wrote,
one parquet directory per query. Run it as
    sbt "runMain graft.Verify perfbench/data/sf0.01 DUMP_DIR"
    python3 tools/check_oracle.py DUMP_DIR perfbench/data/sf0.01
and pass DUMP_DIR here only if the check printed FAILURES: 0.
"""
import argparse
import json
import os
import subprocess
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402  (build helpers)


def harness(cp, tmp, *args):
    subprocess.run(run.java_cmd(cp, tmp, "2g") + list(args), check=True, cwd=run.ROOT)


def doc_goldens(cp, tmp):
    sql_file = os.path.join(tmp, "oracle_sql.json")
    harness(cp, tmp, "oracle-sql", sql_file)
    with open(sql_file) as f:
        sql = json.load(f)
    con = duckdb.connect()
    con.execute("CREATE TABLE docs AS SELECT CAST(i AS BIGINT) AS doc_id FROM range(180) t(i)")
    levels = {"quad": 12, "s2": 10, "hex": 6}
    fams = {}
    for fam, text in sorted(sql.items()):
        tiles = [[] for _ in range(180)]
        for doc_id, tile_id, _cell in con.execute(text).fetchall():
            tiles[doc_id].append(tile_id)
        fams[fam] = {"level": levels[fam], "tiles": [sorted(t) for t in tiles]}
    return {"about": "tiles each doc joins to, by doc_id mod 180, from the DuckDB "
                     "text of DocOps.spatialTileAssignments*Sql",
            "families": fams}


def catalog_goldens(cp, tmp, verified, correctness):
    sums_file = os.path.join(tmp, "sums.json")
    harness(cp, tmp, "catalog-sums", os.path.abspath(verified), sums_file)
    with open(sums_file) as f:
        sums = json.load(f)
    with open(correctness) as f:
        oracle = json.load(f)
    queries = {}
    for q, s in sorted(sums.items()):
        rows = oracle[q]["oracle_rows"]
        if rows != s["rows"]:
            raise SystemExit(f"{q}: verified output has {s['rows']} rows, the oracle {rows}")
        queries[q] = {"oracle_rows": rows, **s}
    return {"about": "oracle_rows: DuckDB row counts of the correctness record; rows/low/xor: "
                     "row count, sum of low 32 bits and xor of xxhash64 over all columns "
                     "(sorted by name) of an output that passed tools/check_oracle.py",
            "queries": queries}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--verified", required=True)
    ap.add_argument("--correctness", required=True)
    args = ap.parse_args()
    cp, _ = run.build()
    gold = os.path.join(run.HERE, "goldens")
    with tempfile.TemporaryDirectory(dir=run.BUILD) as tmp:
        docs = doc_goldens(cp, tmp)
        cat = catalog_goldens(cp, tmp, args.verified, args.correctness)
    for name, body in (("doc_join.json", docs), ("catalog.json", cat)):
        with open(os.path.join(gold, name), "w") as f:
            json.dump(body, f, indent=1, sort_keys=True)
            f.write("\n")
    print("goldens written to", os.path.relpath(gold, run.ROOT))


if __name__ == "__main__":
    main()
