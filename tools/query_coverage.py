"""Per-query engine line coverage of the driver contract, and the keep rule
that decides which queries the contract needs.

A query stays only if it runs engine code that no other query runs. This
tool measures that: for every ``queries()`` entry it records the set of
``zen3geo_spark/`` lines executed while the query is built and collected,
on the driver AND inside the Python workers (UDF, pandas-UDF and Arrow
kernel bodies only run there).

How lines are attributed, in one Spark session:

- driver: ``sys.settrace`` (and ``threading.settrace``) is on only while one
  query is built and collected;
- workers: a generated ``sitecustomize`` on the workers' ``PYTHONPATH``
  calls ``worker_hook``, which traces every worker process and, when a
  task ends, writes the lines under the query named by the job's local
  property (set on the driver before each query). Each write is atomic
  (tmp file + ``os.replace``), so a worker killed at shutdown never
  leaves a truncated dump.

Only function bodies are traced, and the driver and every worker import
the whole package before tracing starts, so nothing that runs at import
counts for whichever query imports first. Lines that every query runs are
subtracted too. ``spark.catalog.clearCache()`` runs between queries, and
the run starts by deleting the ``.gen_assets/`` inputs the queries write
on first use — so run it alone, not next to ``tools/check_oracle.py`` or
the tests.

Keep rule (``report``): a query is protected if a test calls it by name
(``E.q_*``), if it appears in COVERAGE.md's SURVEY §2.1/§2.2 tables, or if
it is listed in ``PROTECTED`` below. Among the rest, repeatedly drop the
query that covers no line some other survivor does not also cover —
slowest first, ties by name — until none qualifies.

Usage::

    python tools/query_coverage.py run SF_DIR OUT.json   # measure (sf0.001)
    python tools/query_coverage.py report OUT.json       # keep rule
"""

from __future__ import annotations

import importlib
import inspect
import json
import os
import pkgutil
import re
import shutil
import sys
import tempfile
import threading
import time
from collections.abc import Callable
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = str(ROOT / "zen3geo_spark") + os.sep
TAG = "zen3geo.coverage.query"

# Protected beyond the tests and the §2.1/§2.2 tables: the dedup
# precision/recall harness, and queries that are the only check of a
# data-dependent behaviour line coverage cannot see.
PROTECTED = {
    "dedup_pr_audit": "precision/recall harness of the dedup variants",
    "mosaic_incremental": "only check that merging a new scene into an "
                          "existing mosaic (src as the order key) equals "
                          "the full recompute",
}


def _tracer(hits: set) -> Callable:
    """A ``sys.settrace`` function that adds (file, line) to ``hits`` for
    every line run in a package function body."""
    def local(frame, event, arg):
        if event == "line":
            hits.add((frame.f_code.co_filename, frame.f_lineno))
        return local

    def glob(frame, event, arg):
        code = frame.f_code
        if code.co_flags & inspect.CO_OPTIMIZED and \
                code.co_filename.startswith(PKG):
            return local
        return None

    return glob


def _import_package() -> None:
    """Import every package module before tracing starts: module-level
    comprehensions are function bodies that run at import, in whichever
    query first needs the module."""
    import zen3geo_spark
    for mod in pkgutil.walk_packages(zen3geo_spark.__path__,
                                     "zen3geo_spark."):
        importlib.import_module(mod.name)


def worker_hook(dump_dir: str) -> None:
    """Trace this Python worker (called from the generated sitecustomize,
    so it runs in the daemon before it forks workers). When a task ends,
    write every line this worker ran for the task's query to
    ``dump_dir/<query>.<pid>.tsv`` — the whole set so far, atomically, so
    the last complete write holds everything."""
    from pyspark.taskcontext import TaskContext

    lines: set = set()
    seen: dict[str, set] = {}

    def dump(ctx) -> None:
        name = ctx.getLocalProperty(TAG) or "__untagged__"
        acc = seen.setdefault(name, set())
        acc |= lines
        lines.clear()
        path = os.path.join(dump_dir, f"{name}.{os.getpid()}.tsv")
        with open(path + ".tmp", "w") as f:
            f.writelines(f"{p}\t{n}\n" for p, n in acc)
        os.replace(path + ".tmp", path)

    orig = TaskContext._setTaskContext.__func__

    def set_task_context(cls, ctx):
        # the worker clears the context when a task's output is written
        if ctx is None and cls._taskContext is not None:
            dump(cls._taskContext)
        orig(cls, ctx)

    TaskContext._setTaskContext = classmethod(set_task_context)
    _import_package()
    tracer = _tracer(lines)
    sys.settrace(tracer)
    threading.settrace(tracer)


def _rel(path: str) -> str:
    return path[len(PKG):] if path.startswith(PKG) else path


def run(sf_dir: str, out_json: str) -> None:
    work = Path(tempfile.mkdtemp(prefix="query_coverage_"))
    hook_dir, dump_dir = work / "hook", work / "dumps"
    hook_dir.mkdir()
    dump_dir.mkdir()
    (hook_dir / "sitecustomize.py").write_text(
        f"import sys\nsys.path.insert(0, {str(ROOT / 'tools')!r})\n"
        "import query_coverage\n"
        f"query_coverage.worker_hook({str(dump_dir)!r})\n")
    # the JVM, and so every Python worker it starts, inherits this
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(hook_dir), str(ROOT), os.environ.get("PYTHONPATH"))
        if p)
    sys.path.insert(0, str(ROOT))
    # queries write their input assets here on first use and read them
    # back afterwards: start empty so the writing lines count for the
    # query that runs them, whatever ran before
    shutil.rmtree(ROOT / ".gen_assets", ignore_errors=True)

    from zen3geo_spark.session import get_spark
    import __spark_entry__ as E

    _import_package()
    hits: set[tuple[str, int]] = set()
    tracer = _tracer(hits)

    spark = get_spark(app_name="query_coverage", shuffle_partitions=8)
    sc = spark.sparkContext
    result: dict[str, dict] = {}
    driver: dict[str, set] = {}
    for name, fn in E.queries().items():
        sc.setLocalProperty(TAG, name)
        hits.clear()
        t0 = time.perf_counter()
        threading.settrace(tracer)
        sys.settrace(tracer)
        try:
            n_rows = len(fn(spark, sf_dir).collect())
            err = None
        except Exception as e:  # noqa: BLE001 - recorded, not fatal
            n_rows, err = None, f"{type(e).__name__}: {e}"[:300]
        finally:
            sys.settrace(None)
            threading.settrace(None)
        wall = time.perf_counter() - t0
        spark.catalog.clearCache()
        driver[name] = set(hits)
        result[name] = {"wall_s": round(wall, 3), "rows": n_rows,
                        "error": err}
        print(f"{name:28s} {wall:7.2f}s driver_lines={len(hits)}"
              f"{'  ' + err if err else ''}", flush=True)
    sc.setLocalProperty(TAG, None)
    spark.stop()

    worker: dict[str, set] = {}
    for f in dump_dir.glob("*.tsv"):
        name = f.name.rsplit(".", 2)[0]
        with open(f) as fh:
            worker.setdefault(name, set()).update(
                (p, int(n)) for p, n in
                (ln.rstrip("\n").split("\t") for ln in fh))
    shutil.rmtree(work)
    if "__untagged__" in worker:
        print(f"warning: {len(worker['__untagged__'])} worker lines ran "
              "outside any query's jobs", file=sys.stderr)
    queries = {}
    for name, r in result.items():
        lines = driver[name] | worker.get(name, set())
        per_file: dict[str, list[int]] = {}
        for p, n in lines:
            per_file.setdefault(_rel(p), []).append(n)
        r["lines"] = {p: sorted(ns) for p, ns in sorted(per_file.items())}
        queries[name] = r
    Path(out_json).write_text(json.dumps(
        {"sf_dir": sf_dir, "queries": queries}, separators=(",", ":")))


def load(path: str) -> tuple[dict, dict[str, set], set]:
    """(the raw per-query records, query -> line set with the lines
    every query runs removed, those common lines)."""
    data = json.loads(Path(path).read_text())["queries"]
    lines = {q: {(p, n) for p, ns in r["lines"].items() for n in ns}
             for q, r in data.items()}
    common = set.intersection(*lines.values()) if lines else set()
    return data, {q: s - common for q, s in lines.items()}, common


def protected_queries(names: set[str]) -> dict[str, str]:
    """name -> why it may not be dropped."""
    prot: dict[str, str] = {}
    for f in sorted((ROOT / "tests").glob("test_*.py")):
        for q in re.findall(r"\bE\.q_(\w+)", f.read_text()):
            prot.setdefault(q, f"called by tests/{f.name}")
    text = (ROOT / "COVERAGE.md").read_text()
    for sec in re.findall(r"^## .*SURVEY §2\.[12]\).*?(?=^## )", text,
                          re.M | re.S):
        rows = [r.split("|") for r in sec.splitlines() if r.startswith("|")]
        col = next(i for i, c in enumerate(rows[0]) if "queries()" in c)
        for r in rows[2:]:
            for q in re.findall(r"`(\w+)`", r[col]):
                if q in names:
                    prot.setdefault(q, "SURVEY §2.1/§2.2 reference operator")
    for q, why in PROTECTED.items():
        prot.setdefault(q, why)
    return {q: w for q, w in prot.items() if q in names}


def keep_rule(lines: dict[str, set], wall: dict[str, float],
              protected: set[str]) -> list[str]:
    """Queries to drop, in drop order."""
    count: dict[tuple, int] = {}
    for s in lines.values():
        for ln in s:
            count[ln] = count.get(ln, 0) + 1
    alive = set(lines)
    dropped = []
    while True:
        cands = [q for q in alive - protected
                 if all(count[ln] > 1 for ln in lines[q])]
        if not cands:
            return dropped
        q = min(cands, key=lambda c: (-wall[c], c))
        alive.discard(q)
        dropped.append(q)
        for ln in lines[q]:
            count[ln] -= 1


def report(path: str) -> None:
    data, lines, common = load(path)
    wall = {q: r["wall_s"] for q, r in data.items()}
    names = set(lines)
    prot = protected_queries(names)
    dropped = keep_rule(lines, wall, set(prot))
    alive = names - set(dropped)
    covered = set().union(*lines.values())
    kept = set().union(*(lines[q] for q in alive))
    print(f"queries: {len(names)}  protected: {len(prot)}  "
          f"drop: {len(dropped)}  survive: {len(alive)}")
    print(f"package lines covered: all {len(covered) + len(common)} "
          f"(common to every query: {len(common)}), survivors "
          f"{len(kept) + len(common)}")
    owners: dict[tuple, list[str]] = {}
    for q in alive:
        for ln in lines[q]:
            owners.setdefault(ln, []).append(q)
    no_unique = sorted(q for q in alive - set(prot)
                       if all(len(owners[ln]) > 1 for ln in lines[q]))
    print(f"unprotected survivors with no line of their own: "
          f"{len(no_unique)} {no_unique}")
    print("\nprotected:")
    for q in sorted(prot):
        print(f"  {q}: {prot[q]}")
    print("\ndropped (slowest first) -> the smallest survivor holding all "
          "its lines, else a greedy cover of them by survivors:")
    for q in dropped:
        sup = [a for a in alive if lines[q] <= lines[a]]
        if not lines[q]:
            shown = "(no package line)"
        elif sup:
            shown = min(sup, key=lambda a: (len(lines[a]), a))
        else:
            left, cover = set(lines[q]), []
            while left:
                o = min(alive, key=lambda a: (-len(left & lines[a]), a))
                cover.append(o)
                left -= lines[o]
            shown = " + ".join(cover)
        print(f"  {q} ({wall[q]:.1f}s, {len(lines[q])} lines): {shown}")
    errors = {q: r["error"] for q, r in data.items() if r["error"]}
    if errors:
        print(f"\nqueries that raised: {errors}")


def main(argv: list[str]) -> None:
    if len(argv) == 3 and argv[0] == "run":
        run(argv[1], argv[2])
    elif len(argv) == 2 and argv[0] == "report":
        report(argv[1])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
