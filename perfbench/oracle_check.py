"""Cross-checks the query surface against DuckDB: runs each query of
perfbench/queries.json in Spark over the benchmark's generated tables and
its `SparkEntry.oracleSql` in DuckDB over the same files, and compares
the two results the way tools/verify_local.py does (columns sorted by
name, rows sorted, cells as pandas renders them). Needs the `duckdb`
Python module; the benchmark itself does not.

    python3 perfbench/oracle_check.py
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
from run import JVM_OPENS  # noqa: E402

TABLES = ("lineitem", "events", "documents", "embeddings")


def rows(con, sql):
    df = con.execute(sql).df()
    cols = sorted(df.columns)
    df = df[cols].sort_values(by=cols).reset_index(drop=True)
    return cols, [tuple(str(v) for v in r) for r in df.itertuples(index=False, name=None)]


def main():
    import duckdb
    classes = build.build()
    d = os.path.join(build.build_dir(), "oracle")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "tmp"))
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    opens = [a for p in JVM_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss4m", "-Djava.io.tmpdir=" + os.path.join(d, "tmp")]
                   + opens + ["-cp", cp, "perfbench.QueryDump", d, os.path.join(HERE, "queries.json")],
                   check=True, cwd=d, stdout=subprocess.DEVNULL)
    with open(os.path.join(d, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet/*.parquet')" % (t, d, t))
    bad = 0
    for q, sql in sorted(oracles.items()):
        got = rows(con, "SELECT * FROM read_parquet('%s/out/%s/*.parquet')" % (d, q))
        exp = rows(con, sql)
        ok = got == exp
        bad += not ok
        print("%s %s (%d rows)" % (q, "OK" if ok else "MISMATCH", len(got[1])))
    shutil.rmtree(d, ignore_errors=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
