"""Same-session A/B per-query bench of two repo checkouts.

The sandbox host's CPU delivery varies several-fold hour to hour, so
cross-session bench comparisons confound code changes with tenancy.
This harness runs BOTH checkouts' queries in one session, INTERLEAVED
(A,B then B,A per round, fresh JVM per side per round) so host drift
cancels in the per-round ratio, and prints a per-query table of median
walls + ratios.

Usage:
    python tools/ab_bench.py /path/to/A labelA /path/to/B labelB \
        [--rounds 3] [--queries q1,q2,...]
Child mode (internal): --child <repo> <queries-csv>
"""
from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

DEFAULT_QUERIES = (
    "pip_join_salted,ann_ivf_trained,zonal_stats,kmv_distinct,near_dup_verified,"
    "image_stats,word_jaccard"
)
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def child(repo: str, queries: list[str]) -> None:
    sys.path.insert(0, repo)
    from zen3geo_spark.session import get_spark
    import __spark_entry__ as E

    spark = get_spark(app_name="ab_bench", cores=CPUS)
    spark.range(1000).count()
    qs = E.queries()
    out: dict[str, float] = {}
    for name in queries:
        if name == "flagship":
            # the headline pages pipeline from the checkout's own bench.py
            # (pages input parquet is shared across checkouts — same
            # generator since r2 — so both sides read identical bytes)
            try:
                import bench as B

                B.warm_python_workers(spark)
                B.ensure_pages_parquet(spark, B.N_PAGES_BENCH)
                B.flagship_pages_pipeline(spark, B.N_PAGES_BENCH)  # warm
                t0 = time.time()
                B.flagship_pages_pipeline(spark, B.N_PAGES_BENCH)
                out[name] = round(time.time() - t0, 3)
            except Exception:
                import traceback

                traceback.print_exc()
                out[name] = -1.0
            spark.catalog.clearCache()
            continue
        fn = qs.get(name)
        if fn is None:
            out[name] = -2.0
            continue
        try:
            fn(spark, SF_DIR).count()  # steady-state warm pass
            spark.catalog.clearCache()
            t0 = time.time()
            fn(spark, SF_DIR).count()
            out[name] = round(time.time() - t0, 3)
        except Exception:
            import traceback

            traceback.print_exc()
            out[name] = -1.0
        spark.catalog.clearCache()
    # pure-JVM ceiling probe: what the host delivered to THIS child —
    # lets a reader sanity-check any per-round ratio against tenancy
    t0 = time.time()
    spark.sql(f"select max(xxhash64(id)) from range(0, 1000000000, 1, "
              f"{CPUS * 8})").collect()
    out["_cpu_probe"] = round(time.time() - t0, 3)
    spark.stop()
    print("ABRESULT " + json.dumps(out))


def run_side(repo: str, queries_csv: str) -> dict[str, float]:
    env = dict(os.environ)
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", repo,
         queries_csv],
        capture_output=True, text=True, env=env, timeout=3600)
    for line in p.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    raise RuntimeError(
        f"child for {repo} produced no result:\n{p.stdout[-2000:]}\n"
        f"{p.stderr[-4000:]}")


def main() -> None:
    if sys.argv[1] == "--child":
        child(sys.argv[2], sys.argv[3].split(","))
        return
    repo_a, label_a, repo_b, label_b = sys.argv[1:5]
    rounds = 3
    queries_csv = DEFAULT_QUERIES
    args = sys.argv[5:]
    while args:
        a = args.pop(0)
        if a == "--rounds":
            rounds = int(args.pop(0))
        elif a == "--queries":
            queries_csv = args.pop(0)
    queries = queries_csv.split(",")
    res: dict[str, dict[str, list[float]]] = {
        label_a: {q: [] for q in queries}, label_b: {q: [] for q in queries}}
    for r in range(rounds):
        order = ([(repo_a, label_a), (repo_b, label_b)] if r % 2 == 0
                 else [(repo_b, label_b), (repo_a, label_a)])
        for repo, label in order:
            t = run_side(repo, queries_csv)
            for q, sec in t.items():
                if sec >= 0:
                    res[label].setdefault(q, []).append(sec)
            print(f"round {r} {label}: {t}", flush=True)
    print(f"\n| query | {label_a} med (s) | {label_b} med (s) | "
          f"{label_b}/{label_a} |")
    print("|---|---|---|---|")
    summary = {}
    for q in queries:
        ta, tb = res[label_a][q], res[label_b][q]
        if not ta or not tb:
            print(f"| {q} | FAILED | FAILED | - |")
            continue
        ma, mb = statistics.median(ta), statistics.median(tb)
        summary[q] = {label_a: ma, label_b: mb,
                      "ratio": round(mb / ma, 3) if ma else None}
        print(f"| {q} | {ma:.2f} | {mb:.2f} | {mb / ma:.2f} |")
    pa = res[label_a].get("_cpu_probe", [])
    pb = res[label_b].get("_cpu_probe", [])
    if pa and pb:
        ma, mb = statistics.median(pa), statistics.median(pb)
        summary["_cpu_probe"] = {label_a: ma, label_b: mb,
                                 "ratio": round(mb / ma, 3) if ma else None}
        print(f"| _cpu_probe (host ceiling) | {ma:.2f} | {mb:.2f} "
              f"| {mb / ma:.2f} |")
    print("\nABSUMMARY " + json.dumps(summary))


if __name__ == "__main__":
    main()
