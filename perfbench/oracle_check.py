"""``wrong_results``: compare slot outputs with their DuckDB oracles.

Runs after every timed window. The outputs compared are the ones the
warm-up collected at the warm-up scale factor; each is hashed
order-insensitively with ``tools/check_oracle.normalize`` and compared
with the same hash of the slot's ``ORACLE`` SQL run by DuckDB over the
same parquet files.
"""

from __future__ import annotations

import os


def wrong_results(results: dict, sf_dir: str) -> list[str]:
    """Slots whose collected output (a pandas frame, or the exception
    the warm-up raised) does not match the oracle. Slots with no oracle
    count as wrong: the benchmark only runs slots that have one."""
    import duckdb

    from mpg_data_warehouse_spark.plans.driver_queries import ORACLE
    from mpg_data_warehouse_spark.schemas import TESTDATA_TABLES
    from tools.check_oracle import normalize

    con = duckdb.connect()
    try:
        for t in TESTDATA_TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )
        wrong = []
        for name, out in results.items():
            if isinstance(out, BaseException) or name not in ORACLE:
                wrong.append(name)
                continue
            if normalize(out) != normalize(con.execute(ORACLE[name]).df()):
                wrong.append(name)
        return wrong
    finally:
        con.close()
