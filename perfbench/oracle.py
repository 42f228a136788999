"""Board correctness: each query's Spark row count against the row count of
its SparkEntry.oracleSql statement, run in DuckDB over the same tier."""
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def row_counts(tier, oracle_sql):
    """Query name -> DuckDB row count (or the error text)."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tier}/{t}.parquet')")
        out = {}
        for name, sql in sorted(oracle_sql.items()):
            try:
                out[name] = con.execute(
                    f"SELECT count(*) FROM ({sql.strip().rstrip(';')}) AS oracle").fetchone()[0]
            except duckdb.Error as e:
                out[name] = f"oracle error: {e}"
        return out
    finally:
        con.close()


def mismatches(spark_rows, oracle_rows):
    """Queries whose Spark row count differs from the oracle's (a query
    with no Spark count — it never succeeded — is left to the op count)."""
    return {q: (spark_rows[q], n) for q, n in oracle_rows.items()
            if q in spark_rows and spark_rows[q] != n}
