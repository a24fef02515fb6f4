"""Option and function ratchets: every parameter with a default under
``zen3geo_spark/`` must be set by some non-test caller, or be on
``ALLOWED`` with a reason; every top-level function or class there must
be named by some non-test caller, or be on ``ALLOWED_FUNCS`` with a
reason.

A value no caller sets is a constant, not an option: each settable value
doubles what tests and benchmarks must cover. A function only tests call
is either a capability the engine offers but does not run itself (the
allowlist names it) or a second copy of a path the engine runs another
way, which goes. The scan is by name, from the AST: a parameter counts
as set when some call to a function of that name passes it by keyword or
by position, or passes ``**kwargs``; a function counts as used when its
name appears (as a name or an attribute) in a caller outside its own
body. The callers are the engine itself, ``__spark_entry__.py``,
``bench.py``, ``tools/`` and ``perfbench/``; ``tests/`` are not callers.
"""
import ast
import collections
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
CALLERS = [ROOT / "zen3geo_spark", ROOT / "__spark_entry__.py",
           ROOT / "bench.py", ROOT / "tools", ROOT / "perfbench"]

# Budgets and seams that property or plan tests sweep; only tests set them.
ALLOWED = {
    ("z_ranges_for_bbox", "max_ranges"): "range-budget property tests sweep it",
    ("minhash_lsh_candidates", "max_bucket"): "the bucket-cap test sets a cap the data exceeds",
    ("tf_cosine_pairs", "max_df"): "the df-cutoff test moves the common-term cut",
    ("connected_components", "max_iters"): "the non-convergence test stops after one round",
    ("cosine_topk_lsh", "n_planes"): "the LSH test uses fewer planes on a small table",
    ("verify_jaccard_pairs", "cut_lineage"): "plan test needs the uncut tree to see the LeftSemi",
    ("run_windowed_stream", "window"): "stream tests name the window they compare with batch",
    ("run_windowed_stream", "watermark"): "stream tests name the watermark they compare with batch",
    ("stream_tumbling_to_memory", "name"): "each test names its own memory sink",
    ("stream_cell_counts_to_memory", "name"): "each test names its own memory sink",
    ("stream_dedup_to_memory", "name"): "each test names its own memory sink",
    ("stream_pair_join_to_memory", "name"): "each test names its own memory sink",
    ("stream_pair_join_to_memory", "lookback"): "the pair-join test names the window it compares with batch",
    ("write_bucketed", "buckets"): "the co-located join test uses fewer buckets",
    ("canvas_rasterize", "crs"): "rasterize tests need a canvas with no CRS",
}

# Capabilities the engine offers but no driver query, tool or benchmark
# runs; each is tested directly. No entry may be a second Spark copy of a
# kernel the engine runs another way: parity tests compare the engine
# path with a DuckDB twin, a Python kernel or goldens.
ALLOWED_FUNCS = {
    "write_bucketed": "bucketed-table writer; the co-located join plan test",
    "colocated_join": "shuffle-free join of bucketed tables; its plan test",
    "to_graph": "formatted physical plan for inspection; chipper plan test",
    "to_graph_logical": "analyzed logical plan for inspection; chipper plan test",
    "run_windowed_stream": "availableNow windowed-stream runner; stream tests",
    "run_stateful": "availableNow running-totals runner; stateful tests",
    "latest_totals": "reads the running-totals sink back; stateful tests",
    "run_streaming_dedup": "availableNow exact-dedup runner; stateful tests",
    "run_streaming_lsh": "availableNow near-dup candidate runner; stateful tests",
    "run_incremental": "availableNow incremental pages runner; its test",
    "mapper": "reference Mapper combinator; combinator tests",
    "flat_mapper": "reference FlatMapper combinator; combinator tests",
    "pixel_coords": "pixel-centre coordinates of a raster; rasterize tests",
    "stratified_sample": "deterministic per-stratum sample; curation tests",
    "store_info": "array-store metadata without a data read; its test",
    "mercator_inv_lon": "inverse Web Mercator longitude; round-trip property",
    "mercator_inv_lat": "inverse Web Mercator latitude; round-trip property",
    "tmerc_inv_np": "inverse transverse Mercator; round-trip property",
    "month_key": "month-boundary split key; combinator tests",
    "files_touched": "files a scan reads; z-order pruning test",
}


def _py_files(path: Path):
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _defaulted_params():
    """(file, function, parameter, positional index or None) per default."""
    out = []
    for f in _py_files(ROOT / "zen3geo_spark"):
        for n in ast.walk(ast.parse(f.read_text())):
            if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            pos = n.args.posonlyargs + n.args.args
            first = len(pos) - len(n.args.defaults)
            out += [(f, n.name, p.arg, i) for i, p in enumerate(pos) if i >= first]
            out += [(f, n.name, p.arg, None)
                    for p, d in zip(n.args.kwonlyargs, n.args.kw_defaults)
                    if d is not None]
    return out


def _top_level_defs():
    """(file, name) per top-level function or class."""
    return [(f, n.name)
            for f in _py_files(ROOT / "zen3geo_spark")
            for n in ast.parse(f.read_text()).body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.ClassDef))]


def _named():
    """Names the callers use, each outside the body of the top-level def
    of that name (a def's own recursion is not a caller)."""
    out = set()
    for root in CALLERS:
        for f in _py_files(root):
            for top in ast.parse(f.read_text()).body:
                own = getattr(top, "name", None)
                for n in ast.walk(top):
                    name = (n.id if isinstance(n, ast.Name)
                            else n.attr if isinstance(n, ast.Attribute)
                            else None)
                    if name is not None and name != own:
                        out.add(name)
    return out


def _calls():
    """Per called name: keywords passed, most positional args, ``**`` use."""
    kws = collections.defaultdict(set)
    npos = collections.defaultdict(int)
    star = set()
    for root in CALLERS:
        for f in _py_files(root):
            for n in ast.walk(ast.parse(f.read_text())):
                if not isinstance(n, ast.Call):
                    continue
                fn = n.func
                name = (fn.attr if isinstance(fn, ast.Attribute)
                        else getattr(fn, "id", None))
                if name is None:
                    continue
                for k in n.keywords:
                    if k.arg is None:
                        star.add(name)
                    else:
                        kws[name].add(k.arg)
                n_args = (1 << 30 if any(isinstance(a, ast.Starred) for a in n.args)
                          else len(n.args))
                npos[name] = max(npos[name], n_args)
    return kws, npos, star


def test_every_default_has_a_caller():
    kws, npos, star = _calls()
    unset = sorted(
        f"{f.relative_to(ROOT)}::{fn}({p}=)"
        for f, fn, p, i in _defaulted_params()
        if (fn, p) not in ALLOWED and fn not in star and p not in kws[fn]
        and (i is None or i >= npos[fn]))
    assert not unset, (f"{len(unset)} parameters no caller sets; make each a "
                       "constant:\n" + "\n".join(unset))


def test_every_function_has_a_caller():
    named = _named()
    unused = sorted(f"{f.relative_to(ROOT)}::{fn}"
                    for f, fn in _top_level_defs()
                    if fn not in named and fn not in ALLOWED_FUNCS)
    assert not unused, (f"{len(unused)} functions only tests call; delete "
                        "each, or allowlist it with a reason:\n"
                        + "\n".join(unused))


def test_allowlist_is_live():
    """Each allowlisted parameter still exists and still has a default;
    each allowlisted function still exists and still has no caller."""
    have = {(fn, p) for _, fn, p, _ in _defaulted_params()}
    assert set(ALLOWED) <= have, sorted(set(ALLOWED) - have)
    defs = {fn for _, fn in _top_level_defs()}
    assert set(ALLOWED_FUNCS) <= defs, sorted(set(ALLOWED_FUNCS) - defs)
    called = sorted(set(ALLOWED_FUNCS) & _named())
    assert not called, f"allowlisted but called, drop the entry: {called}"
