"""Regenerate perfbench/hashes.json, the stored outputs the benchmark checks.

Usage (from the root of a checkout):

    python3 perfbench/make_hashes.py              # every workload entry
    python3 perfbench/make_hashes.py q1_top_sellers stream_dedup

Each entry runs once, in a session configured like a benchmark run
(table cache on, local[<cores>]), on the program's default sf0.1 data,
and its output hash (perfbench/outhash.py) is stored. Where the entry
has a DuckDB oracle, the oracle is run on the same parquet files and
must agree: through the in-engine hash of ``tools/diffcheck.py`` when
every column type has a canonical form there, else through its exact
multiset compare. An entry that disagrees with its oracle is not
written, and the script exits 1. Entries in ROWS_ONLY store a row
count only, as their contract allows.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ROWS_ONLY = {"stream_sessionize"}  # custom stateful stream: rows-only contract


def main(argv: list[str]) -> int:
    sys.path.insert(0, str(ROOT))
    from perfbench.run import configure_session_env

    configure_session_env()
    import duckdb

    from marketing_etl_analytics_spark.session import get_spark
    from marketing_etl_analytics_spark.sources.catalog import DEFAULT_SF_DIR
    from marketing_etl_analytics_spark.suite import SUITE
    from perfbench.outhash import output_hash, row_count
    from tools.diffcheck import TABLES, agghash, norm_rows

    path = BENCH / "hashes.json"
    stored = json.loads(path.read_text()) if path.exists() else {"entries": {}}
    stored["data"] = os.path.basename(os.path.normpath(DEFAULT_SF_DIR))
    workloads = json.loads((BENCH / "workloads.json").read_text())
    names = argv or sorted({e for w in workloads.values() for e in w["entries"]})

    spark = get_spark(app_name="perfbench-hashes")
    con = duckdb.connect()
    for tbl in TABLES:
        con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(DEFAULT_SF_DIR, tbl + '.parquet')}')")
    bad = 0
    for name in names:
        entry = SUITE[name]
        df = entry.fn(spark, DEFAULT_SF_DIR)
        if name in ROWS_ONLY:
            rec = {**row_count(df), "oracle": "none (rows-only contract)"}
        else:
            rec = output_hash(df)
            if entry.oracle is None:
                rec["oracle"] = "none"
            else:
                pair = agghash(df, entry.oracle, con)
                if pair is not None:
                    ok = pair[0] == pair[1] == (rec["rows"], rec["h1"], rec["h2"])
                    rec["oracle"] = "duckdb agghash match"
                else:
                    cur = con.execute(entry.oracle)
                    ocols = [d[0] for d in cur.description]
                    ok = (norm_rows(df.columns, [tuple(r) for r in df.collect()])
                          == norm_rows(ocols, [tuple(r) for r in cur.fetchall()]))
                    rec["oracle"] = "duckdb exact match"
                if not ok:
                    print(f"MISMATCH {name}: spark and oracle disagree", flush=True)
                    bad += 1
                    continue
        stored["entries"][name] = rec
        print(f"ok {name}: {rec}", flush=True)
    spark.stop()
    stored["entries"] = dict(sorted(stored["entries"].items()))
    path.write_text(json.dumps(stored, indent=1) + "\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
