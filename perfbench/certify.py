"""Certify the headline digests against the DuckDB oracle.

    python3 perfbench/certify.py        # from the repository root

For every headline row with an oracle, the Spark result over the
vendored tables must equal DuckDB's result of the row's oracle SQL, value
for value (columns by name, rows in any order). Only then is the row's
Spark digest written to ``expected_digests.json``. The adaptive near-dup
probe is approximate (LSH with seeded random planes), so it has no exact
oracle: it must return at least one pair, and every pair it returns must
be an all-pairs DuckDB pair at the same threshold with the same cosine;
then its digest is pinned. Run this again only when a query's intended
result changes.
"""

from __future__ import annotations

import json
import math
import os
import sys

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench import headline  # noqa: E402
from perfbench.run import pin_environment, start_spark, stop_spark  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def _canon(value):
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else repr(value + 0.0)
    if isinstance(value, bool):
        return repr(int(value))
    return repr(value)


def _rows(pdf) -> list[tuple]:
    names = sorted(pdf.columns)
    return sorted(tuple(_canon(v) for v in r)
                  for r in pdf[names].itertuples(index=False))


def probe_oracle_sql() -> str:
    """All-pairs cosine at the probe's threshold, rounded as the operator
    rounds."""
    from anti_ddos_spark.queries.similarity import NEARDUP_COS, _cos_sql

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         floor(({_cos_sql('a.e', 'b.e')}) * 1000000 + 0.5) / 1000000.0 AS cos
  FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, cos FROM pairs WHERE cos >= {NEARDUP_COS}
"""


def main() -> int:
    import duckdb

    from anti_ddos_spark.queries import full_registry

    work = os.path.join(headline.HERE, ".work", "certify")
    os.makedirs(work, exist_ok=True)
    pin_environment(work)
    spark = start_spark(work)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{headline.SF_DIR}/{t}.parquet')")
    reg = full_registry()
    build = headline.builders()
    digests, how, bad = {}, {}, []
    for q in headline.ROWS:
        df = build[q](spark, headline.SF_DIR)
        row = headline.digest_frame(df).collect()[0]
        sql = reg[q].sql if q in reg else None
        if sql:
            spark_rows, duck_rows = _rows(df.toPandas()), _rows(con.execute(sql).fetchdf())
            if spark_rows != duck_rows or sorted(df.columns) != sorted(
                    con.execute(sql).fetchdf().columns):
                bad.append(q)
                continue
            how[q] = "duckdb"
        else:
            spark_rows = _rows(df.toPandas())
            exact = set(_rows(con.execute(probe_oracle_sql()).fetchdf()))
            if not spark_rows or not exact.issuperset(spark_rows):
                bad.append(q)
                continue
            how[q] = f"pinned: {len(spark_rows)} of {len(exact)} all-pairs DuckDB pairs"
        digests[q] = [int(row["n"]), str(row["h"])]
        print(q, how[q], digests[q], flush=True)
    stop_spark(spark)
    if bad:
        print(f"not certified (Spark != DuckDB): {bad}", file=sys.stderr)
        return 1
    with open(headline.DIGESTS, "w") as f:
        json.dump({"tables": os.path.relpath(headline.SF_DIR, ROOT),
                   "certified_by": how, "digests": digests}, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
