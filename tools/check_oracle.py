#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
       python3 tools/check_oracle.py --compare <verifyOutA> <verifyOutB>

Loads each <verifyOutDir>/<name> parquet (Spark result), runs the matching
oracle SQL from oracle_sql.json in DuckDB with the sfDir tables registered
as views, sorts columns by name, and compares row-by-row hashes.

--compare hash-compares two Verify outputs with the same canonicalisation
(e.g. the same sf run at SPARK_GRAFT_CPUS=1 and at nproc, or a parent and a
change): per gate, the column types plus the sorted canonical rows must be
identical, and so must the two parsed oracle_sql.json maps.

Type-aware (round 10): also compares DuckDB's result-column TYPES against
the Spark parquet schema. DuckDB types integer sum() as HUGEINT (int128)
and decimal arithmetic as DECIMAL; Spark emits BIGINT/DOUBLE. The driver's
hash gate sees the type difference even when repr() of the Python values
matches, so a value-blind comparison here ships red gates (d60/d73/d80 in
round 9). Any oracle column typed HUGEINT, or typed DECIMAL where Spark
says DOUBLE/FLOAT, is a FAIL here regardless of values.
"""
import json, sys, glob, hashlib, os
import duckdb

# Oracle-side types the driver's hasher canonicalizes differently than the
# BIGINT/DOUBLE Spark writes. Pairing one of these with the Spark type on
# the right is the exact bug class that shipped d60/d73/d80 red in round 9.
def type_defect(spark_t, oracle_t):
    s, o = spark_t.upper(), oracle_t.upper()
    if o in ("HUGEINT", "INT128", "UHUGEINT") and s != o:
        return True
    if o.startswith("DECIMAL") and s in ("DOUBLE", "FLOAT", "REAL"):
        return True
    return False

def canon(rows, cols):
    """Sort columns by name, stringify values deterministically."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(repr(r[i]) for i in order))
    return sorted(out), [cols[i] for i in order]

def register_views(con, sf_dir):
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")


def lint(sf_dir, out_dir, json_out=None):
    """Bind (don't run) every oracle; fail on any HUGEINT/DECIMAL output
    column. Spark cannot emit those types, so any such column is a
    guaranteed driver hash_match failure waiting to ship."""
    con = duckdb.connect()
    register_views(con, sf_dir)
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_bad = 0
    results = {}
    for name in sorted(oracle):
        try:
            rel = con.sql(f"DESCRIBE {oracle[name]}")
            cols = rel.fetchall()  # (column_name, column_type, ...)
        except Exception as e:
            print(f"  {name}: LINT-BIND-ERROR {e}")
            results[name] = {"status": "LINT-BIND-ERROR"}
            n_bad += 1
            continue
        bad = [f"{c[0]}:{c[1]}" for c in cols
               if c[1].upper() in ("HUGEINT", "INT128", "UHUGEINT")
               or c[1].upper().startswith("DECIMAL")]
        if bad:
            n_bad += 1
            print(f"  {name}: LINT-TYPE {' '.join(bad)} "
                  f"(cast integer sums: CAST(sum(..) AS BIGINT))")
            results[name] = {"status": "LINT-TYPE", "columns": bad}
        else:
            results[name] = {"status": "PASS"}
    print(f"== lint: {n_bad} oracle(s) with Spark-unrepresentable "
          f"output types ==")
    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "n_bad": n_bad,
                       "queries": results}, f, indent=1, sort_keys=True)
    return 1 if n_bad else 0


class OracleTimeout(Exception):
    """The per-oracle budget fired (distinct from a stray interrupt)."""


def run_oracle(con, sql, timeout=None):
    """Execute one oracle, optionally under a wall-clock budget
    (con.interrupt() from a timer thread -> duckdb.InterruptException).

    The timer can fire just as the oracle finishes: the interrupt then
    lands on an idle connection and would surface on the NEXT statement
    as an uncaught InterruptException. So the callback sets a flag
    before interrupting; InterruptException maps to OracleTimeout only
    when the flag is set, and after cancel+join (so the callback either
    fully ran or never will) a flagged-but-not-raised interrupt is
    drained with a throwaway statement before the next oracle runs."""
    if not timeout:
        rel = con.sql(sql)
        return list(rel.columns), [str(t) for t in rel.types], rel.fetchall()
    import threading
    fired = threading.Event()

    def _budget():
        fired.set()
        con.interrupt()

    timer = threading.Timer(timeout, _budget)
    timer.start()
    try:
        rel = con.sql(sql)
        return list(rel.columns), [str(t) for t in rel.types], rel.fetchall()
    except duckdb.InterruptException:
        if fired.is_set():
            raise OracleTimeout()
        raise
    finally:
        timer.cancel()
        timer.join()
        if fired.is_set():
            try:
                con.sql("SELECT 1").fetchall()
            except duckdb.InterruptException:
                pass


def result_digest(con, out_dir, name):
    """sha256 over a Verify result's sorted column names, their types and
    its canonical rows, plus the row count."""
    rel = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
    cols, types = list(rel.columns), [str(t) for t in rel.types]
    rows, sorted_cols = canon(rel.fetchall(), cols)
    type_of = dict(zip(cols, types))
    typed = [(c, type_of[c]) for c in sorted_cols]
    return hashlib.sha256(repr((typed, rows)).encode()).hexdigest(), len(rows)


def compare(dir_a, dir_b, json_out=None):
    """Two Verify outputs must hold the same gates with identical results
    and identical oracle SQL."""
    con = duckdb.connect()
    def gates(d):
        return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}
    names = sorted(gates(dir_a) | gates(dir_b))
    n_same = n_diff = 0
    results = {}
    for name in names:
        got = []
        for d in (dir_a, dir_b):
            if not os.path.isdir(os.path.join(d, name)):
                got.append(("missing", None))
                continue
            try:
                got.append(result_digest(con, d, name))
            except Exception as e:
                got.append((f"unreadable: {e}", None))
        (ha, ra), (hb, rb) = got
        if ha == hb and ra is not None:
            n_same += 1
            results[name] = {"status": "SAME", "rows": ra}
        else:
            n_diff += 1
            results[name] = {"status": "DIFF", "a": [ha, ra], "b": [hb, rb]}
            print(f"  {name}: DIFF a={ha[:16]} rows={ra} b={hb[:16]} rows={rb}",
                  flush=True)
    oracles = [json.load(open(os.path.join(d, "oracle_sql.json")))
               for d in (dir_a, dir_b)]
    oracle_diff = sorted(k for k in oracles[0].keys() | oracles[1].keys()
                         if oracles[0].get(k) != oracles[1].get(k))
    for k in oracle_diff:
        print(f"  {k}: ORACLE-SQL-DIFF")
    print(f"== {n_same} same, {n_diff} differ; oracle_sql.json: "
          f"{len(oracles[0])} vs {len(oracles[1])} entries, "
          f"{len(oracle_diff)} differ ==")
    if json_out:
        with open(json_out, "w") as f:
            json.dump({"a": dir_a, "b": dir_b, "n_same": n_same,
                       "n_diff": n_diff, "oracle_diff": oracle_diff,
                       "queries": results}, f, indent=1, sort_keys=True)
    return 1 if n_diff or oracle_diff else 0


def main(sf_dir, out_dir, json_out=None, timeout=None):
    con = duckdb.connect()
    register_views(con, sf_dir)
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = n_timeout = 0
    results = {}
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    for name in names:
        try:
            grel = con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            got_cols = list(grel.columns)
            got_types = [str(t) for t in grel.types]
            got_rows = grel.fetchall()
        except duckdb.InterruptException:
            # A stray budget interrupt that slipped past run_oracle's
            # drain; the read itself is unbudgeted, so retry once.
            grel = con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            got_cols = list(grel.columns)
            got_types = [str(t) for t in grel.types]
            got_rows = grel.fetchall()
        if name not in oracle:
            print(f"  {name}: NO-ORACLE rows={len(got_rows)} "
                  f"{'ok' if got_rows else 'EMPTY!'}", flush=True)
            results[name] = {"status": "NO-ORACLE", "rows": len(got_rows)}
            continue
        try:
            exp_cols, exp_types, exp_rows = run_oracle(
                con, oracle[name], timeout)
        except OracleTimeout:
            n_timeout += 1
            print(f"  {name}: TIMEOUT oracle exceeded {timeout}s "
                  f"(principled exclusion, not a mismatch)", flush=True)
            results[name] = {"status": "TIMEOUT", "budget_sec": timeout}
            continue
        except Exception as e:
            print(f"  {name}: ORACLE-SQL-ERROR {e}", flush=True)
            results[name] = {"status": "ORACLE-SQL-ERROR"}
            n_fail += 1
            continue
        spark_t = dict(zip(got_cols, got_types))
        bad_types = [
            f"{c}: spark={spark_t.get(c, '?')} oracle={t}"
            for c, t in zip(exp_cols, exp_types)
            if c in spark_t and type_defect(spark_t[c], t)]
        if bad_types:
            n_fail += 1
            print(f"  {name}: TYPE-MISMATCH {'; '.join(bad_types)}")
            results[name] = {"status": "TYPE-MISMATCH"}
            continue
        g, gc = canon(got_rows, got_cols)
        e, ec = canon(exp_rows, exp_cols)
        if gc != ec:
            print(f"  {name}: SCHEMA-MISMATCH spark={gc} oracle={ec}")
            results[name] = {"status": "SCHEMA-MISMATCH"}
            n_fail += 1
        elif g != e:
            n_fail += 1
            results[name] = {"status": "HASH-MISMATCH",
                             "rows_spark": len(g), "rows_oracle": len(e)}
            print(f"  {name}: HASH-MISMATCH rows spark={len(g)} oracle={len(e)}")
            for i, (a, b) in enumerate(zip(g, e)):
                if a != b:
                    print(f"    first diff row {i}:\n      spark={a}\n      oracle={b}")
                    break
            if len(g) != len(e):
                only_g = set(g) - set(e)
                only_e = set(e) - set(g)
                for r in list(only_g)[:2]: print(f"    only-spark: {r}")
                for r in list(only_e)[:2]: print(f"    only-oracle: {r}")
        else:
            n_pass += 1
            results[name] = {"status": "PASS", "rows": len(g)}
            print(f"  {name}: PASS rows={len(g)}", flush=True)
    tail = f", {n_timeout} timeout" if n_timeout else ""
    print(f"== {n_pass} pass, {n_fail} fail{tail} ==")
    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "n_pass": n_pass, "n_fail": n_fail,
                       "n_timeout": n_timeout,
                       "queries": results}, f, indent=1, sort_keys=True)
    # Exit contract: 0 = fully green, 1 = mismatches, 2 = no mismatch but
    # TIMEOUT exclusions present (the sweep is incomplete — a caller
    # checking only the return code must not read it as fully green).
    if n_fail:
        return 1
    return 2 if n_timeout else 0

USAGE = ("usage: check_oracle.py <sf_dir> <verify_out_dir> "
         "[--json OUT.json] [--timeout SEC] [--lint]\n"
         "       check_oracle.py --compare <verify_out_a> <verify_out_b> "
         "[--json OUT.json]\n"
         "exit codes: 0 green, 1 mismatch/error, 2 timeouts-only\n"
         "--lint binds (doesn't run) every oracle; --timeout is ignored "
         "there, --json still written")

def _flag_value(args, flag):
    if flag not in args:
        return args, None
    i = args.index(flag)
    if i + 1 >= len(args):
        sys.exit(USAGE)
    v = args[i + 1]
    return args[:i] + args[i + 2:], v

if __name__ == "__main__":
    # Parse value-carrying flags BEFORE the --lint dispatch: otherwise
    # "--lint --json OUT" leaves '--json' in the positional slots and
    # lint() receives it as sf_dir (a confusing glob/connect error).
    args = sys.argv[1:]
    args, jout = _flag_value(args, "--json")
    args, tmo = _flag_value(args, "--timeout")
    do_lint = "--lint" in args
    do_compare = "--compare" in args
    args = [a for a in args if a not in ("--lint", "--compare")]
    if len(args) < 2:
        sys.exit(USAGE)
    if do_compare:
        sys.exit(compare(args[0], args[1], jout))
    if do_lint:
        sys.exit(lint(args[0], args[1], jout))
    sys.exit(main(args[0], args[1], jout, float(tmo) if tmo else None))
