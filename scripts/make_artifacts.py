#!/usr/bin/env python3
"""Regenerate the committed bench-evidence artifacts:
  BASELINE_DUCK.json  — per-query DuckDB best-of-2 times (sf0.01, sf0.1)
  BENCH_SCALING.json  — per-query Spark cold/warm times (3 SFs)
Prerequisites: compiled classes (sbt compile) and a Verify dump whose
oracle_sql.json reflects the current query set.
Usage: python3 scripts/make_artifacts.py <oracle_sql.json> [--skip-spark]
"""
import json, os, subprocess, sys, time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from bench_duck import TABLES  # single source of truth for fixture tables

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OPENS = " ".join(f"--add-opens java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"])


def duck_baseline(oracle_path):
    oracle = json.load(open(oracle_path))
    out = {}
    for sf in ("sf0.01", "sf0.1"):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '/root/testdata/{sf}/{t}.parquet'")
        times = {}
        for name, sql in sorted(oracle.items()):
            ts = []
            for _ in range(2):
                t0 = time.time(); con.execute(sql).fetchall(); ts.append(time.time() - t0)
            times[name] = round(min(ts), 4)
        out[sf] = {"queries": times, "total": round(sum(times.values()), 3)}
        con.close()
    out["_meta"] = {"note": "best-of-2 DuckDB wall seconds per oracle statement, same parquet fixtures",
                    "n_queries": len(oracle)}
    json.dump(out, open(os.path.join(REPO, "BASELINE_DUCK.json"), "w"), indent=1)
    return out


def run_leg(sf):
    """Run ONE Spark bench leg and return its parsed full record.
    The stale /tmp copy is removed first so a Bench binary that fails
    to WRITE the file (stale classes) can't silently reuse a previous
    run's numbers."""
    cp = f"{REPO}/target/scala-2.13/classes:/opt/spark/jars/*"
    full_path = f"/tmp/bench_full_{sf}.json"
    if os.path.exists(full_path):
        os.remove(full_path)
    # provenance: legs run through this harness are the builder's
    # rested-machine procedure — the artifact of record (VERDICT r17
    # #2); the driver's own end-of-round leg keeps the default stamp
    # the record is stamped local[32] below; Bench's unset-env default
    # is the host's processor count, so pin the cores explicitly
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=f"/root/testdata/{sf}",
               SPARK_GRAFT_CPUS="32",
               SPARK_GRAFT_BENCH_FULL=full_path,
               SPARK_GRAFT_BENCH_SOURCE="quiet-host")
    cmd = (f"java {OPENS} -Xmx16g -Dspark.ui.enabled=false "
           f"-Dspark.sql.session.timeZone=UTC -cp '{cp}' graft.Bench")
    res = subprocess.run(cmd, shell=True, env=env, capture_output=True, text=True)
    if res.returncode != 0 or not os.path.exists(full_path):
        sys.stderr.write(f"bench failed for {sf} (rc={res.returncode}); stderr tail:\n"
                         + "\n".join(res.stderr.splitlines()[-20:]) + "\n")
        raise SystemExit(1)
    return json.load(open(full_path))


def assemble(runs):
    """Write BENCH_FULL.json + BENCH_SCALING.json from three leg
    records. Guards the record-of-record's internal consistency: a
    partial rerun mixing legs from DIFFERENT binaries/query sets
    (e.g. a query added between legs) must fail loudly, not commit a
    silently inconsistent benchmark."""
    keysets = {sf: frozenset(d["queries"]) for sf, d in runs.items()}
    if len(set(keysets.values())) != 1:
        counts = {sf: len(k) for sf, k in keysets.items()}
        raise SystemExit(f"leg query sets disagree (stale /tmp leg?): {counts}")
    art = {"_meta": {
        "harness": "graft.Bench — noop-sink full materialization; per-query cold (first run, incl. Catalyst planning + Janino codegen compile) and warm (median of 3 re-runs, codegen cache hot) seconds; local[32], AQE on, shuffle.partitions=32",
        "duckdb_baseline": "BASELINE_DUCK.json — best-of-2 seconds per oracle statement on the same parquet",
        "n_queries_bench": len(runs["sf0.1"]["queries"])}}
    # the sf1 column is produced by a DIFFERENT harness
    # (scripts/bench_sf1.py over the derived MakeScale fixture) —
    # carry it through instead of dropping it on reassembly
    scaling_path = os.path.join(REPO, "BENCH_SCALING.json")
    if os.path.exists(scaling_path):
        prior = json.load(open(scaling_path))
        if "sf1" in prior:
            art["sf1"] = prior["sf1"]
    for sf, d in runs.items():
        art[sf] = {"total_cold": round(d["value"], 2), "total_warm": round(d["value_warm"], 2),
                   "n_failed": d["n_failed"],
                   "cold": {k: round(v["cold"], 3) for k, v in d["queries"].items()},
                   "warm": {k: round(v["warm"], 3) for k, v in d["queries"].items()}}
        # the sf0.1 run doubles as the committed BENCH_FULL.json of record
        if sf == "sf0.1":
            json.dump(d, open(os.path.join(REPO, "BENCH_FULL.json"), "w"), indent=1)
    json.dump(art, open(scaling_path, "w"), indent=1)
    return art


def spark_bench():
    # Since round 9 Bench prints only a compact totals line on stdout
    # (the driver's retained output tail is small) and writes the full
    # per-query map to the file named by SPARK_GRAFT_BENCH_FULL.
    return assemble({sf: run_leg(sf) for sf in ("sf0.001", "sf0.01", "sf0.1")})


def summarize(duck, art):
    oq = set(duck["sf0.1"]["queries"])
    for sf in ("sf0.01", "sf0.1"):
        w = art[sf]["warm"]; c = art[sf]["cold"]; td = duck[sf]["total"]
        tw = sum(w[q] for q in oq if q in w); tc = sum(c[q] for q in oq if q in c)
        print(f"{sf} oracle-{len(oq)}: cold {tc:.1f} warm {tw:.1f} duck {td} "
              f"warm-ratio {tw/td:.1f} cold-ratio {tc/td:.1f}")
    w1, w2 = art["sf0.01"]["warm"], art["sf0.1"]["warm"]
    msp = sum(w2[q] - w1[q] for q in oq if q in w1 and q in w2)
    md = duck["sf0.1"]["total"] - duck["sf0.01"]["total"]
    print(f"marginal (sf0.01→sf0.1): spark warm +{msp:.1f}s duck +{md:.2f}s ratio {msp/md:.1f}")
    flat = sum(1 for q in w2 if q in w1 and w2[q] < 2 * w1[q])
    print(f"queries growing <2x for 10x data: {flat}/{len(w2)}")


if __name__ == "__main__":
    oracle_path = sys.argv[1]
    duck = duck_baseline(oracle_path)
    print("duck totals:", {k: v["total"] for k, v in duck.items() if not k.startswith("_")})
    if "--skip-spark" not in sys.argv:
        art = spark_bench()
        summarize(duck, art)
