"""Option ratchet: every parameter with a default under ``zen3geo_spark/``
must be set by some non-test caller, or be on ``ALLOWED`` with a reason.

A value no caller sets is a constant, not an option: each settable value
doubles what tests and benchmarks must cover. The scan is by name, from
the AST: a parameter counts as set when some call to a function of that
name passes it by keyword or by position, or passes ``**kwargs``. The
callers are the engine itself, ``__spark_entry__.py``, ``bench.py``,
``tools/`` and ``perfbench/``; ``tests/`` are not callers.
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
    ("simhash64", "shingle_n"): "short test docs need narrower shingles",
    ("simhash64_agg", "shingle_n"): "short test docs need narrower shingles",
    ("kmv_distinct", "k"): "the accuracy test uses a smaller sketch",
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


def test_allowlist_is_live():
    """Each allowlisted parameter still exists and still has a default."""
    have = {(fn, p) for _, fn, p, _ in _defaulted_params()}
    assert set(ALLOWED) <= have, sorted(set(ALLOWED) - have)
