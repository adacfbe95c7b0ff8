"""Driver-mirror correctness rehearsal: queries() vs oracle_sql().

Mirrors the per-round gate as closely as the driver's observed behavior
allows: per-probe row count, column-name set, and a TYPE-SENSITIVE value
hash (arrow schema types participate — this is what caught the DuckDB
SUM->HUGEINT class the type-insensitive pytest compare missed in r3/r4).
Probes without an oracle get the weaker rows-only check, like the driver.

Usage:
    python scripts/rehearse.py            # the 50 graded probes
    python scripts/rehearse.py --all      # all registered probes
    python scripts/rehearse.py q_link_extract q_feed_parse    # just these

Writes a JSON report to /tmp/rehearsal.json and prints one line per
probe plus a summary; exit code 1 if anything fails.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from goose_spark.ducklab import SF_DIR_DEFAULT as SF_DIR  # noqa: E402
from goose_spark.ducklab import duck_views  # noqa: E402


def value_hash(tbl):
    """Type-sensitive, order-insensitive value hash over an arrow table:
    columns sorted by name, schema types included, rows sorted."""
    cols = sorted(tbl.column_names)
    tbl = tbl.select(cols)
    h = hashlib.sha256()
    h.update(str([(f.name, str(f.type)) for f in tbl.schema]).encode())
    df = tbl.to_pandas()
    if cols:
        df = df.astype(str).sort_values(cols).reset_index(drop=True)
    h.update(df.to_csv(index=False).encode())
    return h.hexdigest()


def main(argv):
    import duckdb

    import __spark_entry__ as entry
    from goose_spark.job import local_session

    qs = entry.queries()
    if "--all" in argv:
        sel = list(qs)
    elif [a for a in argv if not a.startswith("-")]:
        sel = [a for a in argv if not a.startswith("-")]
    else:
        sel = [fn.__name__ for fn, _ in entry.probes()[0]]

    spark = local_session(os.cpu_count())
    spark.sparkContext.setLogLevel("ERROR")
    osql = entry.oracle_sql()
    con = duck_views(duckdb.connect(), SF_DIR)

    report, n_fail = {}, 0
    for name in sel:
        t0 = time.time()
        rec = {"rows_match": None, "schema_match": None, "hash_match": None,
               "spark_rows": None, "oracle_rows": None, "err": None,
               "oracle_backed": name in osql}
        try:
            sdf = qs[name](spark, SF_DIR)
            # toArrow(): the hash must see Spark's ACTUAL arrow schema.
            # A pandas round-trip lets inference widen nullable int
            # columns to float64, fabricating (or masking) type drifts
            # the driver — which collects true arrow — would never see.
            sp = sdf.toArrow()
            rec["spark_rows"] = sp.num_rows
            if name in osql:
                orc = con.execute(osql[name]).fetch_arrow_table()
                rec["oracle_rows"] = orc.num_rows
                rec["rows_match"] = sp.num_rows == orc.num_rows
                rec["schema_match"] = (sorted(sp.column_names)
                                       == sorted(orc.column_names))
                rec["hash_match"] = value_hash(sp) == value_hash(orc)
                if not rec["hash_match"]:
                    sp_t = {f.name: str(f.type) for f in sp.schema}
                    or_t = {f.name: str(f.type) for f in orc.schema}
                    if sp_t != or_t:
                        rec["err"] = f"type drift: spark={sp_t} oracle={or_t}"
            else:
                rec["rows_match"] = rec["schema_match"] = True
                rec["hash_match"] = True  # rows-only fallback (driver shape)
        except Exception as e:  # noqa: BLE001 — report, don't abort sweep
            rec["err"] = repr(e)
            traceback.print_exc()
        ok = rec["err"] is None and all(
            rec[k] for k in ("rows_match", "schema_match", "hash_match"))
        n_fail += 0 if ok else 1
        rec["sec"] = round(time.time() - t0, 2)
        report[name] = rec
        print(f"{'PASS' if ok else 'FAIL'} {name} rows={rec['spark_rows']} "
              f"{'oracle' if rec['oracle_backed'] else 'rows-only'} "
              f"{rec['sec']}s" + (f" err={rec['err']}" if rec["err"] else ""),
              flush=True)

    with open("/tmp/rehearsal.json", "w") as f:
        json.dump(report, f, indent=1)
    print(f"SUMMARY {len(sel) - n_fail}/{len(sel)} green "
          f"({sum(1 for r in report.values() if r['oracle_backed'])} "
          "oracle-backed)")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
