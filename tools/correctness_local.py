"""Oracle check of queries() entries against their DuckDB value oracles
(``oracle_sql()``) at $SPARK_GRAFT_SF_DIR (default sf0.01), by
``lightcurvesclassifier_spark.harness.compare``.

Usage (from the repo root): python tools/correctness_local.py [q1 q2 ...]

With no names it sweeps EVERY queries() entry; at sf0.01 it writes
CORRECTNESS_LOCAL.json in the external driver's CORRECTNESS_r{N}.json
format — value-check evidence for all queries, where the driver's own
window covers only the first 50 — and at any other SF prints the summary
only. With names it prints one OK/FAIL line per query and exits 1 on
any failure.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    sf = os.path.basename(sf_dir.rstrip("/"))

    import duckdb

    import __spark_entry__ as em
    from lightcurvesclassifier_spark import harness
    from lightcurvesclassifier_spark.sources.testdata import TABLES

    harness.check_names(names)
    spark = harness.open_session("correctness-local")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = em.queries()
    oracles = em.oracle_sql()
    out: dict[str, dict] = {}
    n_green = 0
    for name in names or qs:
        out[name] = r = harness.compare(spark, qs[name], sf_dir, con, oracles.get(name))
        green = bool(r["rows_match"] and r["schema_match"] and r["hash_match"])
        n_green += green
        if names:
            rows = f"(spark={r['spark_rows']} oracle={r['oracle_rows']})"
            print(f"{'OK ' if green else 'FAIL'} {name} @ {sf} {rows}", flush=True)

    if not names and sf == "sf0.01":
        path = ROOT / "CORRECTNESS_LOCAL.json"
        path.write_text(json.dumps(out, indent=2) + "\n")
        print(f"wrote {path}: {n_green}/{len(out)} green")
    elif not names:
        print(f"{sf}: {n_green}/{len(out)} green")
    con.close()
    spark.stop()
    sys.exit(1 if names and n_green < len(out) else 0)


if __name__ == "__main__":
    main()
