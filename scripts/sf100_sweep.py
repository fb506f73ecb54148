#!/usr/bin/env python3
"""Enumerated sf100 bit-exactness sweep (SCALING.md round 12).

Runs EVERY oracle from <verifyOutDir>/oracle_sql.json in DuckDB against the
sf100 replica and compares with the Spark results written by graft.Verify —
so the rung's correctness claim is enumerated per query, not sampled.

Differences from oracle_check.py (the strict driver-gate replica):
- each oracle runs in its own subprocess with a wall-clock timeout and a
  DuckDB memory cap, so one pathological oracle (the composed as-of join's
  pair stream OOMs DuckDB at 10M events) yields EXCLUDED(reason) instead of
  killing the sweep;
- output is a per-query status table (PASS / FAIL / EXCLUDED) plus a JSON
  line, ready to paste into SCALING.md.

A FAIL here is a real divergence and must be treated like a driver-gate
red; an EXCLUDED records WHY DuckDB could not evaluate the oracle at this
rung (the Spark side still produced results — covered by differentials
like q13≡q13b where they exist).

Usage: sf100_sweep.py <sfDir> <verifyOutDir> [timeoutSec] [memLimit] [tempCap]
Defaults: timeout 600 s, memory_limit 24GB.
"""
import json
import math
import multiprocessing as mp
import os
import subprocess
import sys
import time

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            vals.append(repr(v))
        out.append(tuple(vals))
    out.sort()
    return out


def check_one(sf_dir, out_dir, name, sql, mem_limit, temp_cap, q):
    import duckdb
    t0 = time.time()
    try:
        con = duckdb.connect()
        os.makedirs(f"{out_dir}/duck_tmp", exist_ok=True)
        con.execute(f"SET temp_directory='{out_dir}/duck_tmp'")
        con.execute("SET preserve_insertion_order=false")
        con.execute(f"SET memory_limit='{mem_limit}'")
        # a pathological oracle (the composed as-of pair stream) spills
        # >60 GB before its timeout — cap the spill so it can't fill the
        # disk under the concurrently-running Spark dump
        con.execute(f"SET max_temp_directory_size='{temp_cap}'")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        spark_rel = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        spark_cols = [d[0] for d in spark_rel.description]
        spark_rows = spark_rel.fetchall()
    except Exception as e:
        q.put((name, "FAIL", f"cannot read spark result: {e}", time.time() - t0))
        return
    try:
        duck_rel = con.execute(sql)
        duck_cols = [d[0] for d in duck_rel.description]
        duck_rows = duck_rel.fetchall()
    except Exception as e:
        msg = str(e).split("\n")[0][:160]
        resource = any(t in msg for t in (
            "emory", "OutOfMemory", "No space left", "temp_directory_size",
            "Could not write file"))
        status = "EXCLUDED" if resource else "FAIL"
        reason = f"oracle exceeded resource cap: {msg}" if status == "EXCLUDED" \
            else f"oracle SQL error: {msg}"
        q.put((name, status, reason, time.time() - t0))
        return
    if sorted(spark_cols) != sorted(duck_cols):
        q.put((name, "FAIL", f"columns spark={sorted(spark_cols)} duck={sorted(duck_cols)}",
               time.time() - t0))
        return
    if len(spark_rows) != len(duck_rows):
        q.put((name, "FAIL", f"rows spark={len(spark_rows)} duck={len(duck_rows)}",
               time.time() - t0))
        return
    a, b = canon(spark_rows, spark_cols), canon(duck_rows, duck_cols)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:2]
        q.put((name, "FAIL", f"value mismatch, first diffs: {diff}", time.time() - t0))
        return
    q.put((name, "PASS", f"{len(spark_rows)} rows", time.time() - t0))


def registered_oracles():
    """The LIVE registered oracle set, straight from SparkEntry (no
    SparkSession — `graft.Tools oracle-names` starts none). Returns
    None when the classes aren't built, with a loud warning: the sweep
    then runs UNPINNED, which is exactly the round-12 stale-ledger hole.
    """
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cp = f"{repo}/target/scala-2.13/classes:/opt/spark/jars/*"
    try:
        out = subprocess.run(
            ["java", "-cp", cp, "graft.Tools", "oracle-names"],
            capture_output=True, text=True, timeout=120, check=True)
        names = {l.strip() for l in out.stdout.splitlines() if l.strip()}
        return names or None
    except Exception as e:
        print(f"WARNING: cannot enumerate registered oracles ({e}) — "
              "sweep runs UNPINNED against the dumped oracle_sql.json; "
              "a stale dump would go unnoticed (run `sbt compile` first)")
        return None


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    timeout = int(sys.argv[3]) if len(sys.argv) > 3 else 600
    mem_limit = sys.argv[4] if len(sys.argv) > 4 else "24GB"
    # spill cap is now a parameter: the 40GB default assumed an empty
    # /tmp; a concurrent Spark dump shares the disk
    temp_cap = sys.argv[5] if len(sys.argv) > 5 else "40GB"
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    # Pin the enumeration to the LIVE registration (VERDICT r16 task 7):
    # a dump from an older build silently shrinks the rung's correctness
    # claim — the round-12 ledger went stale at 144 while the board grew.
    registered = registered_oracles()
    unexplained = set()
    if registered is not None:
        missing = registered - set(oracles)
        extra = set(oracles) - registered
        unexplained = missing | extra
        if missing:
            print(f"ENUMERATION GAP: {len(missing)} registered oracle(s) "
                  f"absent from the dump (stale Verify dump?): "
                  f"{sorted(missing)[:8]}")
        if extra:
            print(f"ENUMERATION GAP: {len(extra)} dumped oracle(s) no "
                  f"longer registered (stale dump vs current build): "
                  f"{sorted(extra)[:8]}")
    # Resume: a multi-hour sweep overlaps the (also multi-hour) Spark dump,
    # so prior verdicts are reloaded and only new/undecided queries run.
    # A query dir without _SUCCESS is still being written (or its query
    # died) — deciding it now would compare a partial dump, so it stays
    # undecided until the dump side settles it.
    results = {}
    if os.path.exists(f"{out_dir}/sweep.json"):
        for k, v in json.load(open(f"{out_dir}/sweep.json")).items():
            results[k] = (v["status"], v["reason"], v["sec"])
    for name, sql in sorted(oracles.items()):
        if name in results:
            print(f"{results[name][0]} {name}: (resumed) {results[name][1]}")
            continue
        if not os.path.isdir(f"{out_dir}/{name}"):
            # While the dump is still running, a missing dir just means the
            # dump hasn't reached this query yet — persisting a verdict now
            # would poison the resume path. Only once VerifyRung's
            # _DUMP_DONE marker exists does a missing dir mean the query
            # actually threw.
            if os.path.exists(f"{out_dir}/_DUMP_DONE"):
                results[name] = ("EXCLUDED", "no spark result (Verify query threw)", 0.0)
                print(f"EXCLUDED {name}: no spark result (Verify query threw)")
            else:
                print(f"SKIP {name}: dump in flight (dir missing) — rerun after")
            continue
        if not os.path.exists(f"{out_dir}/{name}/_SUCCESS"):
            print(f"SKIP {name}: dump in flight (_SUCCESS missing) — rerun after")
            continue
        q = mp.Queue()
        p = mp.Process(target=check_one,
                       args=(sf_dir, out_dir, name, sql, mem_limit, temp_cap, q))
        p.start()
        p.join(timeout)
        if p.is_alive():
            p.terminate()
            p.join()
            results[name] = ("EXCLUDED", f"oracle timeout > {timeout}s", float(timeout))
            print(f"EXCLUDED {name}: oracle timeout > {timeout}s")
        else:
            # q.empty() races the mp.Queue feeder pipe — a child that put
            # its verdict just before exiting can transiently look empty.
            # A bounded blocking get drains the pipe; only a true silent
            # death (hard OOM kill) raises Empty.
            try:
                import queue as _queue
                n, status, reason, dt = q.get(timeout=10)
                results[name] = (status, reason, dt)
                print(f"{status} {name}: {reason} ({dt:.1f}s)")
            except _queue.Empty:
                results[name] = ("EXCLUDED", "oracle process died (hard OOM)", 0.0)
                print(f"EXCLUDED {name}: oracle process died (hard OOM)")
        with open(f"{out_dir}/sweep.json", "w") as f:
            json.dump({k: {"status": s, "reason": r, "sec": round(dt2, 1)}
                       for k, (s, r, dt2) in results.items()}, f, indent=1)
    n_pass = sum(1 for s, _, _ in results.values() if s == "PASS")
    n_fail = sum(1 for s, _, _ in results.values() if s == "FAIL")
    n_excl = sum(1 for s, _, _ in results.values() if s == "EXCLUDED")
    n_skip = len(oracles) - len(results)
    print(f"\nSWEEP: {n_pass} PASS / {n_fail} FAIL / {n_excl} EXCLUDED"
          + (f" / {n_skip} UNDECIDED (dump in flight)" if n_skip else "")
          + f" of {len(oracles)}")
    if registered is not None:
        print(f"SWEEP ENUMERATION: {len(oracles)}/{len(registered)} "
              f"registered oracles enumerated, {len(unexplained)} unexplained")
    else:
        print("SWEEP ENUMERATION: UNPINNED (registered set unavailable)")
    # markdown table for SCALING.md
    with open(f"{out_dir}/sweep_table.md", "w") as f:
        f.write("| query | status | note |\n|---|---|---|\n")
        for name, (status, reason, dt) in sorted(results.items()):
            f.write(f"| {name} | {status} | {reason} |\n")
    with open(f"{out_dir}/sweep.json", "w") as f:
        json.dump({k: {"status": s, "reason": r, "sec": round(dt, 1)}
                   for k, (s, r, dt) in results.items()}, f, indent=1)
    # an enumeration gap is a sweep failure: the rung claim would be
    # silently narrower (or wider) than the registered board
    sys.exit(1 if (n_fail or unexplained) else 0)


if __name__ == "__main__":
    main()
