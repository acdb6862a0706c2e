"""Guards for the library's shape, checked on the source with `ast`.

1. No pandas UDF and no pandas import anywhere in the library: every
   Python stage crosses the JVM boundary as Arrow (`operators/arrowmap`).
2. Every `mapInArrow` / `applyInArrow` call passes a body built by
   `arrowmap.map_rows` / `arrowmap.group_rows`: one row → batch loop for
   every Python stage.
3. Every public operator has a production caller. A test is not a
   caller: a def under operators/, streaming/, functions/, plans/ or
   sources/ must be referenced from the library, the driver entry, the
   bench, perfbench or a script, or be a named user entry point.
4. Every option has a production caller: each optional parameter of such
   a public function or method is passed by some production call.
5. The manifest is the pipeline's one dedup store: the library neither
   calls the perfbench-only `register_hashes` / `anti_join_seen` nor
   names a `seen_hashes` path except to refuse one.
"""

import ast
import math
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIB = os.path.join(ROOT, "rag_pdf_parser_spark")
OPERATOR_DIRS = ("operators", "streaming", "functions", "plans", "sources")

# user entry points (batch/incremental curation, streaming runs, store and
# output maintenance): called by deployments, not from inside the repo
ENTRY_POINTS = {"curate_corpus", "curate_corpus_incremental",
                "run_streaming_dedup", "run_extraction_stream",
                "compact_lsh_store", "compact_output"}


def _py_files(*paths):
    for p in paths:
        if os.path.isfile(p):
            yield p
            continue
        for d, _, files in os.walk(p):
            yield from (os.path.join(d, f) for f in sorted(files)
                        if f.endswith(".py"))


def _parse(path):
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _names_used(tree):
    """Every identifier a module refers to: names, attributes and
    imported names (a def's own name is not a use)."""
    used = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            used.add(n.id)
        elif isinstance(n, ast.Attribute):
            used.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            used.update(a.name for a in n.names)
    return used


def test_no_pandas_udf_or_pandas_import_in_library():
    bad = []
    for path in _py_files(LIB):
        rel = os.path.relpath(path, ROOT)
        for n in ast.walk(_parse(path)):
            if isinstance(n, ast.Import):
                mods = [a.name for a in n.names]
            elif isinstance(n, ast.ImportFrom):
                mods = [n.module or ""]
                bad += [(rel, n.lineno, a.name) for a in n.names
                        if a.name == "pandas_udf"]
            else:
                name = getattr(n, "attr", getattr(n, "id", None))
                if name and (name in ("mapInPandas", "pandas_udf")
                             or name.startswith("applyInPandas")):
                    bad.append((rel, n.lineno, name))
                continue
            bad += [(rel, n.lineno, m) for m in mods
                    if m == "pandas" or m.startswith("pandas.")]
    assert not bad, bad


#: each Arrow boundary method and the arrowmap builder its body must come from
ARROW_BODIES = {"mapInArrow": "map_rows", "applyInArrow": "group_rows"}


def _callee(node):
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def test_every_arrow_stage_runs_through_arrowmap():
    calls, bad = 0, []
    for path in _py_files(LIB):
        for n in ast.walk(_parse(path)):
            if not (isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr in ARROW_BODIES):
                continue
            calls += 1
            body = n.args[0] if n.args else next(
                (k.value for k in n.keywords if k.arg == "func"), None)
            if not (isinstance(body, ast.Call)
                    and _callee(body) == ARROW_BODIES[n.func.attr]):
                bad.append((os.path.relpath(path, ROOT), n.lineno,
                            n.func.attr))
    assert calls >= 8, calls  # the guard must see the library's stages
    assert not bad, bad


def test_every_public_operator_has_a_production_caller():
    callers = [LIB, os.path.join(ROOT, "__spark_entry__.py"),
               os.path.join(ROOT, "bench.py"),
               os.path.join(ROOT, "perfbench"), os.path.join(ROOT, "scripts")]
    used = set()
    for path in _py_files(*callers):
        used |= _names_used(_parse(path))

    orphans = []
    for path in _py_files(*(os.path.join(LIB, d) for d in OPERATOR_DIRS)):
        for n in _parse(path).body:
            if (isinstance(n, (ast.FunctionDef, ast.ClassDef))
                    and not n.name.startswith("_")
                    and n.name not in used and n.name not in ENTRY_POINTS):
                orphans.append(f"{os.path.relpath(path, ROOT)}:{n.name}")
    assert not orphans, orphans


def test_lsh_store_has_one_admission_path():
    """`append_store` is called only from operators/dedup.py: the
    incremental admit is the one writer of the LSH store, and the
    streaming gate admits through it."""
    callers = [LIB, os.path.join(ROOT, "__spark_entry__.py"),
               os.path.join(ROOT, "bench.py"),
               os.path.join(ROOT, "perfbench"), os.path.join(ROOT, "scripts")]
    sites = [(os.path.relpath(path, ROOT), n.lineno)
             for path in _py_files(*callers)
             for n in ast.walk(_parse(path))
             if isinstance(n, ast.Call) and _callee(n) == "append_store"]
    assert sites, "the guard must see the admit's append"
    bad = [s for s in sites
           if s[0] != os.path.join("rag_pdf_parser_spark", "operators",
                                   "dedup.py")]
    assert not bad, bad


#: the near-dup recipe's entry points, and the config names none of them
#: may take: the signature config, skew cap and Jaccard threshold are
#: constants in operators/dedup.py, and the store is read with the bp
#: modulus its meta records
RECIPE_FUNCS = {"dedup_corpus", "dedup_corpus_incremental", "curate_corpus",
                "curate_corpus_incremental", "run_streaming_dedup",
                "open_store"}
RECIPE_CONFIG = {"n", "num_perm", "bands", "shingle", "max_bucket",
                 "jaccard_threshold", "store_partitions"}


def test_near_dup_recipe_takes_no_config_parameter():
    """No entry point of the near-dup recipe takes a config parameter, so
    no call can ask for a config or modulus the store meta does not
    record."""
    found, bad = set(), []
    for path in _py_files(LIB):
        for n in ast.walk(_parse(path)):
            if isinstance(n, ast.FunctionDef) and n.name in RECIPE_FUNCS:
                found.add(n.name)
                a = n.args
                names = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
                bad += [(n.name, p) for p in sorted(names & RECIPE_CONFIG)]
    assert found == RECIPE_FUNCS, found
    assert not bad, bad


def test_near_dup_recipe_has_one_chain():
    """`ngram_jaccard_pairs` has one call site in the library, in the
    near-dup core `_near_dup_drops`, and both `dedup_corpus` and the
    incremental admit call that core: the two entry points share one
    candidates → verify → drop-set chain."""
    verify_sites, core_callers = [], set()
    for path in _py_files(LIB):
        tree = _parse(path)
        verify_sites += [(os.path.relpath(path, ROOT), n.lineno)
                         for n in ast.walk(tree) if isinstance(n, ast.Call)
                         and _callee(n) == "ngram_jaccard_pairs"]
        core_callers |= {fn.name for fn in tree.body
                         if isinstance(fn, ast.FunctionDef)
                         and any(isinstance(n, ast.Call)
                                 and _callee(n) == "_near_dup_drops"
                                 for n in ast.walk(fn))}
    assert len(verify_sites) == 1, verify_sites
    core = os.path.join(LIB, "operators", "dedup.py")
    line = verify_sites[0][1]
    owner = [fn.name for fn in _parse(core).body
             if isinstance(fn, ast.FunctionDef)
             and fn.lineno <= line <= fn.end_lineno]
    assert verify_sites[0][0] == os.path.relpath(core, ROOT), verify_sites
    assert owner == ["_near_dup_drops"], owner
    assert {"dedup_corpus", "dedup_corpus_incremental"} <= core_callers, \
        core_callers


def _optional_params(fn, method):
    """(positional names after self/cls, optional names) of a def."""
    a = fn.args
    pos = [x.arg for x in a.posonlyargs + a.args]
    optional = pos[len(pos) - len(a.defaults):] if a.defaults else []
    optional += [k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults)
                 if d is not None]
    static = any(getattr(d, "id", None) == "staticmethod"
                 for d in fn.decorator_list)
    return (pos[1:] if method and not static else pos), optional


def test_every_option_has_a_production_caller():
    """An optional parameter of a public def (module level, or a public
    method of a public class) under `OPERATOR_DIRS` passes when some
    production call names it by keyword or reaches its position; a
    starred argument counts for every later position and a `**` argument
    for every name. Calls are matched by callee name, so a same-named def
    elsewhere counts too. `ENTRY_POINTS` and `__init__` are exempt: a
    user entry point's and a constructor's options are for deployments.
    An option no caller sets is a constant in disguise: inline it."""
    callers = [LIB, os.path.join(ROOT, "__spark_entry__.py"),
               os.path.join(ROOT, "bench.py"),
               os.path.join(ROOT, "perfbench"), os.path.join(ROOT, "scripts")]
    calls = {}
    for path in _py_files(*callers):
        for n in ast.walk(_parse(path)):
            if isinstance(n, ast.Call) and _callee(n):
                # positions reached: a starred argument reaches them all
                reach = (math.inf if any(isinstance(x, ast.Starred)
                                         for x in n.args) else len(n.args))
                calls.setdefault(_callee(n), []).append(
                    (reach, {k.arg for k in n.keywords}))

    total, unset = 0, []
    for path in _py_files(*(os.path.join(LIB, d) for d in OPERATOR_DIRS)):
        tree = _parse(path)
        defs = [(n, False) for n in tree.body
                if isinstance(n, ast.FunctionDef)]
        defs += [(m, True) for c in tree.body
                 if isinstance(c, ast.ClassDef) and not c.name.startswith("_")
                 for m in c.body if isinstance(m, ast.FunctionDef)]
        for fn, method in defs:
            if fn.name.startswith("_") or fn.name in ENTRY_POINTS:
                continue
            pos, optional = _optional_params(fn, method)
            total += len(optional)
            for p in optional:
                i = pos.index(p) if p in pos else None
                if not any(p in kws or None in kws
                           or (i is not None and i < reach)
                           for reach, kws in calls.get(fn.name, [])):
                    unset.append(
                        f"{os.path.relpath(path, ROOT)}:{fn.name}({p})")
    print(f"optional parameters outside the entry points: {total}")
    assert total, "the guard must see the library's options"
    assert not unset, (f"{len(unset)} of {total} optional parameters have "
                       "no production caller:\n" + "\n".join(unset))


#: kept for the benchmark harness only: the library's dedup gate reads the
#: manifest's `text_hash`, so no library call may write or probe a second
#: hash store
PERFBENCH_ONLY = {"register_hashes", "anti_join_seen"}


def test_manifest_is_the_one_dedup_store():
    """No library call of `PERFBENCH_ONLY`, and no library string naming a
    `seen_hashes` path (the old second store) outside the test of an `if`
    whose body raises — the refusal of an out_dir that still holds one."""
    calls, paths, refusals = [], [], 0
    for path in _py_files(LIB):
        rel = os.path.relpath(path, ROOT)
        tree = _parse(path)
        calls += [(rel, n.lineno, _callee(n)) for n in ast.walk(tree)
                  if isinstance(n, ast.Call) and _callee(n) in PERFBENCH_ONLY]
        refused = {id(c) for n in ast.walk(tree)
                   if isinstance(n, ast.If)
                   and any(isinstance(b, ast.Raise) for b in n.body)
                   for c in ast.walk(n.test)}
        for n in ast.walk(tree):
            if (isinstance(n, ast.Constant) and isinstance(n.value, str)
                    and n.value.rstrip("/").rsplit("/", 1)[-1]
                    == "seen_hashes"):
                if id(n) in refused:
                    refusals += 1
                else:
                    paths.append((rel, n.lineno))
    assert not calls, calls
    assert not paths, paths
    assert refusals == 1, refusals  # the pipeline's legacy-layout check
