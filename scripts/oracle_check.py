#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run Verify output
against DuckDB executing oracle_sql.json on the same parquet tables.
Compares schema (sorted column names), row count, and exact values.

Strict by design (round 8): the driver hashes serialized values, so the
local gate must distinguish everything a hash distinguishes —
  * NULL vs NaN (the old pandas .df() path coerced NULL -> NaN in float
    columns on BOTH sides and structurally could not see the difference;
    values are now fetched as Python objects via fetchall()),
  * +-1-ulp float divergence (floats canonicalize via repr(), the
    shortest round-trip serialization, which separates adjacent doubles).
NaN == NaN is accepted (one canonical 'NaN' token), matching a
serialization-based hash.

Each compared query's line ends with the seconds DuckDB took to run its
oracle SQL, and the ten slowest are listed before the final count.

Usage: python3 scripts/oracle_check.py <sfDir> <verifyOutDir>
       python3 scripts/oracle_check.py --selftest
"""
import sys, json, glob, math, decimal, time
import duckdb

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]


def canon(v):
    """Canonical serialization of one cell: what the hash would see."""
    if isinstance(v, decimal.Decimal):
        # Round-7/8 lesson: wide-decimal serialization is NOT portable
        # across oracle environments — the only two driver hash misses
        # in two rounds were the only two DECIMAL(38,0) output columns,
        # and str(Decimal) here would silently mask that divergence.
        # Decimal math stays internal; the surface carries STRING.
        raise ValueError(
            "DECIMAL value on the hashed surface — emit exact digits as "
            "STRING/VARCHAR in both engines (see blockingQuality)")
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)          # shortest round-trip: 1 ulp apart => differs
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def compare(ora_cols, ora_rows, got_cols, got_rows):
    """Return (ok, message). Columns compared sorted-by-name, rows in
    result order (every query surface ORDER BYs totally)."""
    if sorted(ora_cols) != sorted(got_cols):
        return False, f"cols oracle={sorted(ora_cols)} got={sorted(got_cols)}"
    if len(ora_rows) != len(got_rows):
        return False, f"rows oracle={len(ora_rows)} got={len(got_rows)}"
    operm = sorted(range(len(ora_cols)), key=lambda i: ora_cols[i])
    gperm = sorted(range(len(got_cols)), key=lambda i: got_cols[i])
    for r, (orow, grow) in enumerate(zip(ora_rows, got_rows)):
        for oi, gi in zip(operm, gperm):
            try:
                x, y = canon(orow[oi]), canon(grow[gi])
            except ValueError as e:
                return False, f"col {ora_cols[oi]} row {r}: {e}"
            if x != y:
                return False, (f"col {ora_cols[oi]} row {r}: "
                               f"oracle={x} got={y}")
    return True, ""


def selftest():
    """The gate must red-flag NULL-vs-NaN and +-1-ulp divergence."""
    ok, _ = compare(["a"], [(None,)], ["a"], [(float("nan"),)])
    assert not ok, "NULL vs NaN must FAIL"
    ok, _ = compare(["a"], [(float("nan"),)], ["a"], [(None,)])
    assert not ok, "NaN vs NULL must FAIL"
    x = 0.1 + 0.2                      # 0.30000000000000004
    ok, _ = compare(["a"], [(x,)], ["a"], [(math.nextafter(x, 1),)])
    assert not ok, "1-ulp divergence must FAIL"
    ok, _ = compare(["a"], [(x,)], ["a"], [(x,)])
    assert ok, "identical doubles must PASS"
    ok, _ = compare(["a"], [(float("nan"),)], ["a"], [(float("nan"),)])
    assert ok, "NaN vs NaN must PASS (canonical token)"
    ok, _ = compare(["a", "b"], [(1, None)], ["b", "a"], [(None, 1)])
    assert ok, "column order must not matter (sorted-by-name compare)"
    ok, _ = compare(["a"], [([1.0, None],)], ["a"], [([1.0, float("nan")],)])
    assert not ok, "NULL vs NaN inside an array must FAIL"
    # DECIMAL on the hashed surface is a hard failure EVEN WHEN both
    # sides agree: str(Decimal) is one canonicalization the driver's
    # hash does not necessarily share (the round-7/8 failure class),
    # so the local gate refuses to compare it at all.
    d = decimal.Decimal("340282366920938463463374607431768211456")
    ok, msg = compare(["a"], [(d,)], ["a"], [(d,)])
    assert not ok and "DECIMAL" in msg, "decimal cell must FAIL loudly"
    ok, _ = compare(["a"], [(str(d),)], ["a"], [(str(d),)])
    assert ok, "the same digits as STRING must PASS"
    print("selftest OK: NULL/NaN, ulp divergence and DECIMAL-on-surface "
          "are red-flagged")


def main():
    if sys.argv[1:] == ["--selftest"]:
        selftest()
        return
    if len(sys.argv) < 3:
        print(__doc__)
        sys.exit(2)
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    fail = 0
    secs = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); fail += 1; continue
        t0 = time.perf_counter()
        try:
            res = con.sql(sql)
            ora_cols, ora_rows = list(res.columns), res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}"); fail += 1; continue
        finally:
            secs[name] = time.perf_counter() - t0
        got = con.sql(f"SELECT * FROM '{files[0]}'")
        got_cols, got_rows = list(got.columns), got.fetchall()
        ok, msg = compare(ora_cols, ora_rows, got_cols, got_rows)
        if ok:
            print(f"PASS {name} ({len(ora_rows)} rows x {len(ora_cols)} cols)"
                  f" [{secs[name]:.2f}s]")
        else:
            print(f"FAIL {name}: {msg} [{secs[name]:.2f}s]"); fail += 1
    print("\nslowest oracle queries (DuckDB seconds):")
    for name in sorted(secs, key=secs.get, reverse=True)[:10]:
        print(f"  {secs[name]:8.2f}  {name}")
    print(f"\n{len(oracle)-fail}/{len(oracle)} passed")
    sys.exit(1 if fail else 0)


main()
