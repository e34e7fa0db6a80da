"""Records the DuckDB oracle's result digest of each dedup query on each
query-table variant, into query_oracle.json beside this file.

The oracle SQL comes from the program: every traced run writes it to
``.bench_work/<workload>-seed<n>-trace1/check/oracle_sql.json``. Run
again whenever a query's oracle SQL or the table generator changes:

    python3 perfbench/record_oracle.py <oracle_sql.json>
"""
import json
import os
import sys

import run


def main():
    oracles = json.load(open(sys.argv[1]))
    out = {}
    for v in range(run.QUERY_VARIANTS):
        data = os.path.join(run.ROOT, ".bench_work", "oracle", str(v))
        run.write_query_tables(data, v)
        con = run.duckdb_tables(data)
        out[str(v)] = {name: {"sql_sha256": run.sql_digest(sql),
                              "result": run.result_digest(con.sql(sql))}
                       for name, sql in sorted(oracles.items())}
        print(f"variant {v}: {out[str(v)]}", file=sys.stderr)
    with open(run.ORACLE_FILE, "w") as fh:
        json.dump({"tables": [run.QUERY_CUSTOMERS, run.QUERY_DOCUMENTS], "variants": out},
                  fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
