"""Probe DuckDB oracle-twin runtimes standalone (no Spark session).

The sf10 soak left most twins rows-only because the naive twins blow a
60s budget there.  Before deciding which queries can be VALUE-matched
at sf10 (r3 verdict item 1), measure each twin alone::

    python tools/probe_oracles.py <sf_dir> <timeout_s> <query> [...]

Prints one line per twin: ``name: <secs>s rows=<n>`` or
``name: TIMEOUT >Ns`` / ``name: ERROR ...``.
"""

from __future__ import annotations

import sys
import threading
import time

import duckdb

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry_mod  # noqa: E402
from graphjet_spark.sources.testdata import (  # noqa: E402
    TABLES,
    duck_memory_limit,
)


def main() -> int:
    sf_dir = sys.argv[1]
    timeout = float(sys.argv[2])
    names = sys.argv[3:]
    osql = entry_mod.oracle_sql()
    for name in names:
        if name not in osql:
            print(f"{name}: NO ORACLE", flush=True)
            continue
        con = duckdb.connect()
        con.sql(f"SET memory_limit='{duck_memory_limit()}'")
        for t in TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        timer = threading.Timer(timeout, con.interrupt)
        timer.start()
        t0 = time.time()
        try:
            n = len(con.sql(osql[name]).df())
            print(f"{name}: {time.time() - t0:.1f}s rows={n}", flush=True)
        except duckdb.InterruptException:
            print(f"{name}: TIMEOUT >{timeout:.0f}s", flush=True)
        except Exception as e:
            print(
                f"{name}: ERROR {str(e).splitlines()[0][:200]}", flush=True
            )
        finally:
            timer.cancel()
            con.close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
