"""batch_telemetry correctness: each dumped query result against its
`SparkEntry.oracleSql`, run by DuckDB over the same generated files,
compared in `tools/check.py`'s canonical form."""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
import check as oracle_check  # noqa: E402


def check(data_dir, out_dir):
    """{query: verdict} where verdict is "PASS" or the reason it failed."""
    con = duckdb.connect()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(data_dir, name)}/*.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    verdicts = {}
    for q in sorted(d for d in os.listdir(out_dir)
                    if os.path.isdir(os.path.join(out_dir, d))):
        if q not in oracles:
            verdicts[q] = "NO_ORACLE"
            continue
        try:
            got = oracle_check.canon(con.execute(
                f"SELECT * FROM '{os.path.join(out_dir, q)}/*.parquet'").df())
            want = oracle_check.canon(con.execute(oracles[q]).df())
        except Exception as e:  # an oracle or canonicalisation error fails the query
            verdicts[q] = f"ERROR {type(e).__name__}: {e}"
            continue
        if got[0] != want[0]:
            verdicts[q] = f"SCHEMA_MISMATCH spark={got[0]} duckdb={want[0]}"
        elif got[1] != want[1]:
            verdicts[q] = f"MISMATCH rows spark={len(got[1])} duckdb={len(want[1])}"
        else:
            verdicts[q] = "PASS"
    return verdicts
