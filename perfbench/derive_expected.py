#!/usr/bin/env python3
"""Record the expected query results (perfbench/expected.json).

    python3 perfbench/derive_expected.py [--oracle-timeout 120]

Builds the harness, runs every curation query and every query of the
traced run's group sample on the generated tables (full and tiny sizes) and hashes each result. Each
result is then compared with its `SparkEntry.oracleSql` query run by
DuckDB on the same tables, normalised like dev/check_oracle.py (columns
by name, rows sorted). A fingerprint's `source` is `duckdb` when the
oracle matched, or `seed` when there is no oracle query or it did not
finish in time: then the program's own result at the time of recording
is the reference. A mismatch stops the script.
"""
import argparse
import glob
import json
import os
import subprocess
import sys
import threading

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def oracle_frame(con, sql, timeout):
    """Run `sql`, interrupting it after `timeout` seconds (None then)."""
    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    try:
        return con.execute(sql).fetchdf()
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()


def normalise(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def derive(classpath, out, tiny, timeout):
    cmd = ["java"] + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-Duser.timezone=UTC", "-cp", classpath, "perfbench.Main",
        "--derive", out, "--work", os.path.join(out, "work")] + (["--tiny"] if tiny else [])
    with open(os.path.join(out, "derive.log"), "w") as log:
        if run.run_group(cmd, 3000, log, cwd=run.ROOT) != 0:
            sys.exit(f"derive failed, see {out}/derive.log")
    derived = json.load(open(os.path.join(out, "derived.json")))
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        files = glob.glob(f"{out}/data/{t}.parquet/*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({files!r})")
    result = {}
    for q, d in derived.items():
        source, note = "seed", "no oracle query"
        if q in oracle:
            odf = oracle_frame(con, oracle[q], timeout)
            if odf is None:
                note = f"oracle did not finish in {timeout} s"
            else:
                files = glob.glob(f"{out}/results/{q}/*.parquet")
                sdf = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
                odf, sdf = normalise(odf), normalise(sdf)
                same = (list(odf.columns) == list(sdf.columns) and len(odf) == len(sdf) and
                        odf.to_csv(index=False) == sdf.to_csv(index=False))
                if not same:
                    sys.exit(f"{q}: program result differs from the DuckDB oracle")
                source, note = "duckdb", "matches the DuckDB oracle"
        result[q] = {"hash": d["hash"], "rows": d["rows"], "source": source, "note": note}
        print(f"{'tiny' if tiny else 'full'} {q}: {d['rows']} rows, {source} ({note})")
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--oracle-timeout", type=float, default=120)
    args = ap.parse_args()
    classpath = run.build(run.source_digest())
    expected = {}
    for tiny in (False, True):
        out = os.path.join(run.HERE, "work", "derive-" + ("tiny" if tiny else "full"))
        os.makedirs(out, exist_ok=True)
        expected["tiny" if tiny else "full"] = derive(classpath, out, tiny, args.oracle_timeout)
    with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
