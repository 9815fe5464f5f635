#!/usr/bin/env python3
"""Local correctness harness mimicking the driver's DuckDB-oracle gate.

Usage: python3 scripts/check.py <sfDir> <verifyOutDir>

Reports each <verifyOutDir>/<name>._FAILED marker (a query that
failed or timed out in graft.Verify) as FAIL with its cause. Reads
each <verifyOutDir>/<name>/ parquet result (written by graft.Verify),
runs the matching oracle SQL from oracle_sql.json in DuckDB against
the same parquet tables, sorts columns by name and rows by all
columns, and compares values TYPED: rows come from
cursor.fetchall() (which keeps decimal.Decimal / int / bool / date
exactly), never pandas .df() — r14 lesson: .df() coerces both
DECIMAL(38,0) and HUGEINT to float64, so a DECIMAL-vs-HUGEINT column
split (q275) read "equal" locally while the driver hash (which sees
the representation) failed it.  A Python-type mismatch between
engines (e.g. Decimal vs int) is therefore a FAIL here even when the
numeric values agree, matching the driver's strictness.  Floats
compare exactly (NaN==NaN allowed) so rounding gaps surface.
"""
import json, os, sys
from decimal import Decimal
import duckdb

FAILED = "._FAILED"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def cell_key(v):
    """Total deterministic sort key over mixed cells; equal values get
    equal keys regardless of numeric representation so both sides sort
    identically and the typed compare sees aligned rows."""
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, "1" if v else "0")
    if isinstance(v, (int, Decimal)) and not isinstance(v, bool):
        # normalize() so numerically-equal Decimals of different SCALE
        # (Decimal('5.0') vs Decimal('5')) key identically — otherwise
        # the two sides sort equal multisets into different row orders
        # and the typed compare reports mismatches on misaligned rows
        # ('f' format re-expands normalize()'s exponent form, so
        # Decimal('500').normalize() == 5E+2 still keys as '500')
        return (2, f"{Decimal(v).normalize():+040f}")
    if isinstance(v, float):
        if v == 0.0:
            v = 0.0  # collapse -0.0 vs +0.0 into one key
        return (2, f"{v:+.17e}" if v == v else "nan")
    if isinstance(v, (list, tuple)):
        return (3, str([cell_key(x) for x in v]))
    return (4, str(v))


def cells_equal(a, b, path):
    """Typed equality: None==None, NaN==NaN, floats exact, and the
    PYTHON TYPE must match (int vs Decimal is a dtype FAIL even when
    numerically equal — that is the q275 class).  Lists recurse."""
    if a is None and b is None:
        return None
    if (a is None) != (b is None):
        return f"{path}: {a!r} != {b!r}"
    # bool is an int subclass — pin it first so True != 1 is caught.
    ta = "bool" if isinstance(a, bool) else type(a).__name__
    tb = "bool" if isinstance(b, bool) else type(b).__name__
    if ta != tb:
        return f"{path}: dtype {ta}({a!r}) != {tb}({b!r})"
    if isinstance(a, float):
        an, bn = a != a, b != b
        if an and bn:
            return None
        if an != bn or a != b:
            return f"{path}: {a!r} != {b!r}"
        return None
    if isinstance(a, (list, tuple)):
        if len(a) != len(b):
            return f"{path}: list len {len(a)} != {len(b)}"
        for i, (x, y) in enumerate(zip(a, b)):
            r = cells_equal(x, y, f"{path}[{i}]")
            if r:
                return r
        return None
    if a != b:
        return f"{path}: {a!r} != {b!r}"
    return None


def fetch(con, sql):
    """(columns, duckdb type names, rows) with native Python cells."""
    cur = con.sql(sql)
    cols = list(cur.columns)
    types = [str(t) for t in cur.types]
    rows = cur.fetchall()
    return cols, types, rows


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    # graft.Verify writes <name>._FAILED, holding the cause, for a
    # query that failed or timed out; such a query has no result dir.
    failed = {f[:-len(FAILED)]: os.path.join(out_dir, f)
              for f in os.listdir(out_dir) if f.endswith(FAILED)}
    names = sorted([d for d in os.listdir(out_dir)
                    if os.path.isdir(os.path.join(out_dir, d))
                    and d not in failed])
    n_pass = n_fail = n_noracle = 0
    for name, marker in sorted(failed.items()):
        with open(marker) as f:
            cause = " ".join(f.read().split())
        print(f"FAIL {name}: {cause}")
        n_fail += 1
    for name in names:
        res_glob = os.path.join(out_dir, name, "*.parquet")
        try:
            gcols, gtypes, grows = fetch(
                con, f"SELECT * FROM read_parquet('{res_glob}')")
        except Exception as e:
            print(f"FAIL {name}: cannot read result: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"---- {name}: no oracle ({len(grows)} rows)")
            n_noracle += 1
            continue
        try:
            ecols, etypes, erows = fetch(con, oracles[name])
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        # driver-style: sort columns by name, then rows by all columns
        gord = sorted(range(len(gcols)), key=lambda i: gcols[i])
        eord = sorted(range(len(ecols)), key=lambda i: ecols[i])
        gcols = [gcols[i] for i in gord]
        ecols = [ecols[i] for i in eord]
        if gcols != ecols:
            print(f"FAIL {name}: columns {gcols} != {ecols}")
            n_fail += 1
            continue
        gtypes = [gtypes[i] for i in gord]
        etypes = [etypes[i] for i in eord]
        grows = sorted(([r[i] for i in gord] for r in grows),
                       key=lambda r: [cell_key(v) for v in r])
        erows = sorted(([r[i] for i in eord] for r in erows),
                       key=lambda r: [cell_key(v) for v in r])
        if len(grows) != len(erows):
            print(f"FAIL {name}: {len(grows)} rows != {len(erows)} rows")
            n_fail += 1
            continue
        bad = []
        for i, (gr, er) in enumerate(zip(grows, erows)):
            for c, a, b in zip(gcols, gr, er):
                r = cells_equal(a, b, f"{c}[row {i}]")
                if r:
                    bad.append(r)
                    if len(bad) > 3:
                        break
            if len(bad) > 3:
                break
        if bad:
            tinfo = ""
            dt = [f"{c}: {gt} vs {et}"
                  for c, gt, et in zip(gcols, gtypes, etypes) if gt != et]
            if dt:
                tinfo = f" [duckdb types differ: {'; '.join(dt)}]"
            print(f"FAIL {name}: {len(bad)}+ mismatches, first: {bad[:3]}{tinfo}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(grows)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
