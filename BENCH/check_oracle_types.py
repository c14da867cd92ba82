"""Type-fidelity audit of every oracle (round 5, VERDICT r4 next #2 sweep).

The driver's correctness gate hashes TYPED values, so a DuckDB result
whose column type differs from Spark's diverges in the hash even when
the values are numerically identical (r3: q10 DECIMAL vs double; r4:
q12 HUGEINT vs bigint). tests/test_entry.py compares Python values and
cannot see this class. This script compares the Arrow-level schema of
both sides for every oracle and prints any column whose types are not
hash-compatible.

Run: python BENCH/check_oracle_types.py [--sf /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = ["events", "documents", "embeddings"]

# Spark simpleString -> DuckDB Arrow type names that hash identically in
# the driver's compare. Calibrated against driver evidence, not theory:
# CORRECTNESS_r04 hash-PASSED Spark int vs DuckDB int64 and
# timestamp_ntz vs timestamp[us] (on queries since deleted from the
# board), while Spark bigint vs DuckDB HUGEINT hash-FAILED — i.e. the
# compare is value-based across integer widths, but a DuckDB type that
# round-trips through pandas as FLOAT (hugeint, wide decimals) diverges
# from an integral/decimal Spark value representationally.
INTS = {"int8", "int16", "int32", "int64"}
COMPAT = {
    "bigint": INTS,
    "int": INTS,
    "smallint": INTS,
    "tinyint": INTS,
    "double": {"double"},
    "float": {"float"},
    "string": {"string", "large_string"},
    "boolean": {"bool"},
    "date": {"date32[day]"},
    "timestamp": {"timestamp[us]", "timestamp[ns]"},
    "timestamp_ntz": {"timestamp[us]", "timestamp[ns]"},
}


def spark_session():
    from pyorchdb_spark.session import build_session

    return build_session(app_name="oracle-type-audit",
                         extra_conf={"spark.driver.memory": "8g"})


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--names", default="", help="comma list; default all oracles")
    a = ap.parse_args()

    import __spark_entry__ as entry

    spark = spark_session()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{a.sf}/{t}.parquet'")

    qs, oracles = entry.queries(), entry.oracle_sql()
    names = [n for n in (a.names.split(",") if a.names else oracles) if n in oracles]
    bad = []
    for name in names:
        sdf = qs[name](spark, a.sf)
        stypes = dict(sdf.dtypes)
        arrow = con.execute(oracles[name]).arrow()
        dtypes = {f.name: str(f.type) for f in arrow.schema}
        if set(stypes) != set(dtypes):
            bad.append({"query": name, "issue": "columns", "spark": sorted(stypes),
                        "duckdb": sorted(dtypes)})
            continue
        for col, st in stypes.items():
            dt = dtypes[col]
            if st.startswith("decimal"):
                ok = dt.replace("decimal128", "decimal").replace(" ", "") == st
            elif st.startswith("array") or st.startswith("struct") or st.startswith("map"):
                ok = True  # nested: driver compare flattens via repr; skip
            else:
                ok = dt in COMPAT.get(st, set())
            if not ok:
                bad.append({"query": name, "column": col, "spark": st, "duckdb": dt})
    out = {"checked": len(names), "mismatches": bad}
    with open(os.path.join(REPO, "BENCH", "oracle_type_audit.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out, indent=1))
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
