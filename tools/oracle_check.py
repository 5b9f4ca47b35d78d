#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Usage:
  python3 tools/oracle_check.py [sf_dir] [out_dir] [--skip-verify]

1. Runs graft.Verify at sf_dir -> out_dir (parquet per query + oracle_sql.json)
   unless --skip-verify.
2. Registers each testdata table as a DuckDB view, runs every oracle SQL.
3. Compares: columns sorted by name; rows sorted by all columns; values
   compared by their SERIALIZED rendering, exactly as the driver hashes
   them — so Decimal('1.50') vs Decimal('1.5') FAILS (scale is part of the
   serialization) even though they are numerically equal. Round 2 shipped a
   numeric-equality version of this check that was blind to exactly that
   defect class (11 driver hash-fails the local tool called green).

Both sides are fetched VIA ARROW, never fetchall(): DuckDB HUGEINT (the
type of an uncast sum(int)) surfaces through Arrow as decimal128(38,0),
which the driver's type-tagged hasher distinguishes from int64 — but
fetchall() degrades it to a plain Python int, hiding the mismatch. Round 6
shipped exactly that blind spot: data_mix_weights was green here (fetchall
path) and red at the driver (arrow path). Arrow types are also compared at
the PYTHON-VALUE-CLASS level (see type_class — calibrated against driver
evidence: int widths collapse, decimal/str/tz-awareness do not), so a
class-level divergence fails even when every value coincides.

Exit 0 iff every query matches exactly.
"""
import json
import math
import os
import signal
import subprocess
import sys
from pathlib import Path

import duckdb
import pyarrow as pa

SF_DIR = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else "/root/testdata/sf0.01"
OUT_DIR = sys.argv[2] if len(sys.argv) > 2 and not sys.argv[2].startswith("-") else "/tmp/verify_out"
# A graft.Verify run at sf0.01 takes about 5 minutes; one that has not
# finished in 30 has stalled.
VERIFY_TIMEOUT_S = 1800
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def run_verify():
    cmd = ["sbt", "-batch", f'runMain graft.Verify {SF_DIR} {OUT_DIR}']
    print("+", " ".join(cmd), flush=True)
    # own session: on a stall, the kill reaches sbt's forked Verify JVM too
    p = subprocess.Popen(cmd, cwd=REPO, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        stdout, stderr = p.communicate(timeout=VERIFY_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        print(f"graft.Verify did not finish within {VERIFY_TIMEOUT_S} s "
              "(VERIFY_TIMEOUT_S); killed its process tree", flush=True)
        sys.exit(1)
    if p.returncode != 0:
        print(stdout[-4000:])
        print(stderr[-4000:])
        sys.exit(1)
    for line in stdout.splitlines():
        if "[verify]" in line or "error" in line.lower():
            print(line)


def fetch_arrow(rel):
    """Materialize a DuckDB relation through Arrow so types survive:
    HUGEINT -> decimal128(38,0) -> Decimal (NOT a plain int as fetchall
    would give). Returns (rows, col_names, arrow_types_by_name)."""
    tbl = rel.arrow()
    cols = tbl.column_names
    pycols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
    rows = [tuple(c[i] for c in pycols) for i in range(tbl.num_rows)]
    types = {f.name: str(f.type) for f in tbl.schema}
    return rows, cols, types


def canon(rows, cols):
    """Sort columns by name, then rows by stringified values."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple(str(x) for x in r)), [cols[i] for i in order]


def serialize(x):
    """Driver-faithful rendering of one value. The driver hashes serialized
    rows, so scale/type must survive: str(Decimal('1.50')) == '1.50' differs
    from '1.5', and a long 5 differs from a double 5.0. Only NaN is
    normalized (NaN != NaN would make every NaN row a mismatch)."""
    if isinstance(x, float) and math.isnan(x):
        return "NaN"
    if isinstance(x, (list, tuple)):
        return "[" + ",".join(serialize(v) for v in x) + "]"
    return f"{type(x).__name__}:{x}"


def values_eq(a, b):
    if a is None or b is None:
        return a is b
    return serialize(a) == serialize(b)


def max_float_diff(ra, rb):
    m = 0.0
    for a, b in zip(ra, rb):
        if isinstance(a, float) and isinstance(b, float) and not (math.isnan(a) or math.isnan(b)):
            m = max(m, abs(a - b))
    return m


def type_class(t):
    """Python-value class of an arrow type string — the granularity the
    driver's type-tagged hash actually distinguishes (int widths collapse
    to Python int; decimal stays Decimal; tz-aware datetimes differ from
    naive ones)."""
    if t.startswith("decimal"):
        return "decimal"
    if t.startswith(("int", "uint")):
        return "int"
    if t.startswith(("float", "double", "halffloat")):
        return "float"
    if t in ("string", "large_string", "string_view"):
        return "str"
    if t.startswith("timestamp"):
        return "timestamp+tz" if "tz=" in t else "timestamp"
    for prefix in ("large_list<", "list<"):
        if t.startswith(prefix) and t.endswith(">"):
            return "list<" + type_class(t[len(prefix):-1].replace("item: ", "")) + ">"
    return t


def main():
    if "--skip-verify" not in sys.argv:
        run_verify()
    out = Path(OUT_DIR)
    oracle = json.loads((out / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    n_ok = n_bad = 0
    for name in sorted(oracle):
        qdir = out / name
        if not qdir.exists():
            print(f"FAIL {name}: no spark output")
            n_bad += 1
            continue
        try:
            s_rows, s_cols, s_types = fetch_arrow(con.sql(f"SELECT * FROM '{qdir}/*.parquet'"))
            d_rows, d_cols, d_types = fetch_arrow(con.sql(oracle[name]))
        except Exception as e:
            print(f"FAIL {name}: exec error: {e}")
            n_bad += 1
            continue
        s_rows, s_cols_s = canon(s_rows, s_cols)
        d_rows, d_cols_s = canon(d_rows, d_cols)
        if s_cols_s != d_cols_s:
            print(f"FAIL {name}: columns spark={s_cols_s} duckdb={d_cols_s}")
            n_bad += 1
            continue
        # Hard-fail when the two sides' arrow types map to DIFFERENT
        # Python value classes. Calibrated against driver evidence: r6
        # passed int64-vs-int32 columns (math_funcs.line_no — integer
        # widths collapse to the same Python int) but failed
        # decimal128-vs-int64 (data_mix_weights — Decimal is a distinct
        # serialized class). So the faithful rule is class-level, not
        # width-level: int family, float family, decimal, str,
        # timestamp split by tz-awareness (naive vs aware datetimes
        # serialize differently), lists recursing on the element.
        type_bad = [c for c in s_cols_s
                    if type_class(s_types.get(c, "")) != type_class(d_types.get(c, ""))]
        if type_bad:
            detail = ", ".join(f"{c}: spark={s_types.get(c)} duckdb={d_types.get(c)}" for c in type_bad)
            hint = ""
            if any(d_types.get(c, "") == "decimal128(38, 0)" for c in type_bad):
                hint = (" (decimal128(38,0) = DuckDB HUGEINT, i.e. an "
                        "uncast sum(int) — add ::BIGINT in the oracle SQL)")
            print(f"FAIL {name}: arrow type mismatch — {detail}{hint}")
            n_bad += 1
            continue
        if len(s_rows) != len(d_rows):
            print(f"FAIL {name}: rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
            n_bad += 1
            continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows))
               if not all(values_eq(x, y) for x, y in zip(a, b))]
        if bad:
            i, a, b = bad[0]
            print(f"FAIL {name}: {len(bad)}/{len(s_rows)} rows differ; first at {i}:")
            print(f"  cols : {s_cols_s}")
            print(f"  spark: {a}")
            print(f"  duck : {b}")
            print(f"  max float diff in row: {max_float_diff(a, b):.3e}")
            n_bad += 1
        else:
            print(f"OK   {name} ({len(s_rows)} rows)")
            n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} bad, {len(oracle)} total")
    sys.exit(0 if n_bad == 0 else 2)


if __name__ == "__main__":
    main()
