"""Package layout guards: the engine imports neither the removed
training-data operator suite nor the removed legacy bench harness,
``__spark_entry__`` pairs every query with an oracle, SPARQL answering
has one entry point, one router picks every triples map's tier, the
compilers build per-TM plans only (``api._routed_plan`` composes them;
``engine.SparkMaterializer.triples`` still builds the Python document
tier's whole-mapping plan), the TMs' predicate slots are walked once,
in model.py, aggregate pushdown runs the evaluator's own SELECT tail, the
Catalyst compilers and the find() compiler build expressions as SQL
text only, with one find()-filter walker, the two Catalyst tiers
share one compiler core, the Python document tier has one find()
decision and one document walk, cached state has one session-owned
home, and the tests import their own checkout."""

import ast
import pathlib
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

FORBIDDEN = ("morph_xr2rml_spark.ops", "morph_xr2rml_spark.streaming",
             "morph_xr2rml_spark.engine.materialize", "bench", "bench_extra")
# answering entry points folded into api.answer_auto
DELETED = {"answer_tabular", "answer_documents", "constrained_mapping",
           "plan_provably_distinct", "try_aggregate_pushdown",
           "try_aggregate_pushdown_documents", "_invert_graph_map"}
# tier tests: outside their own compilers only api.route_tier calls them
TIER_TESTS = {"is_tabular_compilable", "compilable", "unsafe_paths"}
COMPILERS = ("native.py", "native_json.py")
# options no caller set, deleted with the compilers' whole-mapping triples()
DELETED_OPTIONS = {"term_style", "broadcast_parents", "tm_skip",
                   "salt_partitions", "event_time_col", "triple_rate_metrics"}
# entry points whose every option is explicit (no pass-through **kwargs)
NO_KWARGS = {"materialize_auto", "answer_auto", "_routed_plan"}
# evaluator code aggpush calls instead of keeping its own copy
EVALUATOR_COPIES = {"_values_lex", "_collect_aggrefs", "_resolve"}
# Column-DSL builders of render rules that exist once, as SQL text
SQL_TEXT_ONLY = ("native.py", "native_json.py", "sources.py")
COLUMN_RENDER_DSL = {"replace", "btrim", "regexp_replace", "concat",
                     "get_json_object", "when"}


def _sources():
    yield from sorted((ROOT / "morph_xr2rml_spark").rglob("*.py"))
    yield ROOT / "__spark_entry__.py"


def _imported_modules(path: pathlib.Path):
    """Absolute names of every module ``path`` imports (relative imports
    resolved against its package)."""
    rel = path.relative_to(ROOT).with_suffix("")
    package = list(rel.parts[:-1])
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield alias.name
        elif isinstance(node, ast.ImportFrom):
            base = package[:len(package) - node.level + 1] \
                if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            yield mod
            for alias in node.names:
                yield f"{mod}.{alias.name}" if mod else alias.name


def test_no_imports_of_removed_modules():
    bad = []
    for path in _sources():
        for mod in _imported_modules(path):
            if any(mod == f or mod.startswith(f + ".") for f in FORBIDDEN):
                bad.append(f"{path.relative_to(ROOT)}: {mod}")
    assert not bad, bad


def test_entry_queries_and_oracles_pair_up():
    import __spark_entry__ as e
    assert set(e.queries()) == set(e.oracle_sql())


def test_deleted_answer_paths_stay_gone():
    bad = []
    for path in _sources():
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                name = node.name
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.alias):
                name = node.name
            else:
                continue
            if name in DELETED:
                bad.append(f"{path.relative_to(ROOT)}:{node.lineno}: "
                           f"{name}")
    assert not bad, bad


def _tier_test_callers(path: pathlib.Path):
    """(line, enclosing function chain) of every call of a tier test,
    import aliases resolved."""
    tree = ast.parse(path.read_text(), str(path))
    names = set(TIER_TESTS)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            names |= {a.asname for a in node.names
                      if a.name in TIER_TESTS and a.asname}

    def visit(node, chain):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            chain = chain + (node.name,)
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else \
                f.attr if isinstance(f, ast.Attribute) else None
            if name in names:
                yield node.lineno, chain
        for child in ast.iter_child_nodes(node):
            yield from visit(child, chain)

    yield from visit(tree, ())


def test_only_the_router_chooses_a_tier():
    bad = []
    for path in _sources():
        if path.name in COMPILERS:
            continue             # compiler-internal uses
        for line, chain in _tier_test_callers(path):
            if path.name == "api.py" and "route_tier" in chain:
                continue
            bad.append(f"{path.relative_to(ROOT)}:{line}: "
                       f"{'.'.join(chain) or '<module>'}")
    assert not bad, bad


def _functions():
    """(path, enclosing class or None, FunctionDef) across the package."""
    for path in _sources():
        tree = ast.parse(path.read_text(), str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.ClassDef):
                for item in node.body:
                    if isinstance(item, ast.FunctionDef):
                        yield path, node.name, item
        for node in tree.body:
            if isinstance(node, ast.FunctionDef):
                yield path, None, node


def test_compilers_build_only_per_tm_plans():
    bad = [f"{path.relative_to(ROOT)}:{fn.lineno}: {cls}.{fn.name}"
           for path, cls, fn in _functions()
           if cls in ("NativeCompiler", "JsonNativeCompiler")
           and fn.name == "triples"]
    assert not bad, bad


def test_deleted_options_stay_gone():
    bad = []
    for path, cls, fn in _functions():
        a = fn.args
        params = [p.arg for p in a.posonlyargs + a.args + a.kwonlyargs]
        for name in [fn.name] + params:
            if name in DELETED_OPTIONS:
                bad.append(f"{path.relative_to(ROOT)}:{fn.lineno}: "
                           f"{fn.name}({name})")
    assert not bad, bad


def test_plan_entries_take_no_pass_through_kwargs():
    seen = set()
    bad = []
    for path, cls, fn in _functions():
        if path.name == "api.py" and cls is None and fn.name in NO_KWARGS:
            seen.add(fn.name)
            if fn.args.kwarg is not None:
                bad.append(f"{fn.name}(**{fn.args.kwarg.arg})")
    assert seen == NO_KWARGS
    assert not bad, bad


def _named_uses(path: pathlib.Path):
    """(name, line, enclosing class/function chain) of every Name,
    Attribute and imported alias in ``path``."""
    tree = ast.parse(path.read_text(), str(path))

    def visit(node, chain):
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            chain = chain + (node.name,)
        if isinstance(node, ast.Name):
            yield node.id, node.lineno, chain
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno, chain
        elif isinstance(node, ast.alias):
            yield node.name, node.lineno, chain
        for child in ast.iter_child_nodes(node):
            yield from visit(child, chain)

    yield from visit(tree, ())


def test_aggpush_runs_the_evaluators_solution_tail():
    pkg = ROOT / "morph_xr2rml_spark"
    bad = []
    for name, line, _chain in _named_uses(pkg / "aggpush.py"):
        if name == "term_order_keys":
            bad.append(f"aggpush.py:{line}: {name}")
    aggpush = pkg / "aggpush.py"
    for node in ast.walk(ast.parse(aggpush.read_text(), str(aggpush))):
        if isinstance(node, ast.Call) \
                and isinstance(node.func, ast.Attribute) \
                and node.func.attr in ("orderBy", "offset"):
            bad.append(f"aggpush.py:{node.lineno}: .{node.func.attr}()")
        if isinstance(node, ast.FunctionDef) and node.name in EVALUATOR_COPIES:
            bad.append(f"aggpush.py:{node.lineno}: def {node.name}")
    for name, line, chain in _named_uses(pkg / "sparql.py"):
        if name == "term_order_keys" \
                and chain[:2] != ("SparqlEngine", "_slice_solutions"):
            bad.append(f"sparql.py:{line}: {'.'.join(chain) or '<module>'}")
    assert not bad, bad


def test_render_rules_are_sql_text_only():
    pkg = ROOT / "morph_xr2rml_spark"
    bad = []
    for name in SQL_TEXT_ONLY:
        path = pkg / name
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Call) \
                    and isinstance(node.func, ast.Attribute) \
                    and isinstance(node.func.value, ast.Name) \
                    and node.func.value.id == "F" \
                    and node.func.attr in COLUMN_RENDER_DSL:
                bad.append(f"{name}:{node.lineno}: F.{node.func.attr}()")
    # one find()-filter walker: the only function that handles "$and"
    sources = pkg / "sources.py"
    walkers = [fn.name for fn in ast.walk(ast.parse(sources.read_text()))
               if isinstance(fn, ast.FunctionDef)
               and any(isinstance(c, ast.Constant) and c.value == "$and"
                       for c in ast.walk(fn))]
    if len(walkers) != 1:
        bad.append(f"sources.py find() walkers: {walkers}")
    assert not bad, bad


def _own_nodes(node):
    """The AST nodes of a function outside the functions nested in it."""
    for child in ast.iter_child_nodes(node):
        if not isinstance(child, (ast.FunctionDef, ast.Lambda)):
            yield child
            yield from _own_nodes(child)


def _pairwise_loop(fn) -> bool:
    """A loop nested in a loop that tests subject-space disjointness,
    in a function that also reads the TMs' predicate sets: the
    cross-TM duplicate-freeness proof."""
    own = list(_own_nodes(fn))
    if not any(isinstance(c, ast.Call) and getattr(c.func, "id", None)
               == "tm_pred_iris" for c in own):
        return False
    loops = [n for n in own if isinstance(n, ast.For)]
    return any(inner is not outer and isinstance(inner, ast.For)
               and any(isinstance(c, ast.Call)
                       and getattr(c.func, "id", None)
                       == "subject_spaces_disjoint"
                       for c in ast.walk(inner))
               for outer in loops for inner in ast.walk(outer))


def _const_iri_predicate_tests(path: pathlib.Path):
    """Lines comparing a predicate map's ``.constant[0]`` with "iri"
    (the map named by a loop or comprehension over ``.predicate_maps``)."""
    tree = ast.parse(path.read_text(), str(path))
    pms = {n.target.id for n in ast.walk(tree)
           if isinstance(n, (ast.For, ast.comprehension))
           and isinstance(n.iter, ast.Attribute)
           and n.iter.attr == "predicate_maps"
           and isinstance(n.target, ast.Name)}

    def pm_kind(e) -> bool:
        return isinstance(e, ast.Subscript) \
            and isinstance(e.slice, ast.Constant) and e.slice.value == 0 \
            and isinstance(e.value, ast.Attribute) \
            and e.value.attr == "constant" \
            and isinstance(e.value.value, ast.Name) \
            and e.value.value.id in pms

    for node in ast.walk(tree):
        if isinstance(node, ast.Compare):
            sides = [node.left, *node.comparators]
            if any(map(pm_kind, sides)) and any(
                    isinstance(e, ast.Constant) and e.value == "iri"
                    for e in sides):
                yield node.lineno


def test_predicate_slots_are_walked_once():
    """Which term maps a TM emits under a constant predicate, and that a
    non-constant predicate map makes its predicate set unknowable, is
    decided in model.py alone; native.py, which reads it, imports
    nothing from rewrite.py."""
    bad = [f"{path.relative_to(ROOT)}:{line}" for path in _sources()
           if path.name != "model.py"
           for line in _const_iri_predicate_tests(path)]
    pkg = ROOT / "morph_xr2rml_spark"
    if not list(_const_iri_predicate_tests(pkg / "model.py")):
        bad.append("model.py: no predicate-slot walk")
    bad += [f"native.py: {mod}" for mod in _imported_modules(
                pkg / "native.py")
            if mod == "morph_xr2rml_spark.rewrite"
            or mod.startswith("morph_xr2rml_spark.rewrite.")]
    assert not bad, bad


def test_compiler_core_is_written_once():
    """graph_variants, the template render (the only SQL text building
    a ``coalesce(`` per group) and the pairwise cross-TM proof loop each
    have one definition in the package, nested functions included."""
    graph_variants, template_renders, proof_loops = [], [], []
    for path in _sources():
        for fn in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(fn, ast.FunctionDef):
                continue
            where = f"{path.relative_to(ROOT)}:{fn.lineno}: {fn.name}"
            if fn.name == "graph_variants":
                graph_variants.append(where)
            if any(isinstance(c, ast.Constant) and isinstance(c.value, str)
                   and "coalesce(" in c.value for c in _own_nodes(fn)):
                template_renders.append(where)
            if _pairwise_loop(fn):
                proof_loops.append(where)
    assert len(graph_variants) == 1, graph_variants
    assert len(template_renders) == 1, template_renders
    assert len(proof_loops) == 1, proof_loops


def _calls(path: pathlib.Path):
    """(callee name, line) of every call in ``path``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else \
                f.attr if isinstance(f, ast.Attribute) else None
            yield name, node.lineno


def test_python_document_tier_is_written_once():
    """One find() decision: only sources.py compiles a find() filter
    (``resolve`` hands the tiers the text it could not compile).  One
    document walk: engine.py parses documents in one place.  And the
    ``engine.materialize`` alias stays gone."""
    pkg = ROOT / "morph_xr2rml_spark"
    bad = [f"{path.relative_to(ROOT)}:{line}: mongo_filter_sql()"
           for path in _sources() if path.name != "sources.py"
           for name, line in _calls(path) if name == "mongo_filter_sql"]
    engine = pkg / "engine.py"
    tree = ast.parse(engine.read_text(), str(engine))
    loads = [line for name, line in _calls(engine) if name == "_fast_loads"]
    parse_guards = [h.lineno for h in ast.walk(tree)
                    if isinstance(h, ast.ExceptHandler)
                    and isinstance(h.type, ast.Tuple)
                    and {getattr(e, "id", None) for e in h.type.elts}
                    == {"ValueError", "TypeError"}]
    if len(loads) != 1:
        bad.append(f"engine.py _fast_loads() calls: {loads}")
    if len(parse_guards) != 1:
        bad.append(f"engine.py parse guards: {parse_guards}")
    bad += [f"engine.py:{fn.lineno}: def materialize" for fn in tree.body
            if isinstance(fn, ast.FunctionDef) and fn.name == "materialize"]
    assert not bad, bad


def test_cached_state_has_one_session_owned_home():
    """One ``.persist(`` in the package, in engine.py (the session-keyed
    registry); no memo is monkeypatched onto a SparkSession; and the
    process-global persist registry stays gone."""
    pkg = ROOT / "morph_xr2rml_spark"
    persists = [f"{path.relative_to(ROOT)}:{line}"
                for path in _sources() for name, line in _calls(path)
                if name == "persist"]
    assert len(persists) == 1 and persists[0].startswith(
        "morph_xr2rml_spark/engine.py:"), persists
    bad = [f"{path.relative_to(ROOT)}" for path in _sources()
           if 'getattr(spark, "_mxs_' in path.read_text()]
    native_json = pkg / "native_json.py"
    tree = ast.parse(native_json.read_text(), str(native_json))
    defined = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
    defined |= {t.id for n in tree.body if isinstance(n, ast.Assign)
                for t in n.targets if isinstance(t, ast.Name)}
    bad += [f"native_json.{name}" for name in
            ("_PERSISTED", "_MAX_LIVE", "track_persist", "cleanup")
            if name in defined]
    assert not bad, bad


def test_tests_import_their_own_checkout():
    """No test names this checkout's absolute path: the suite run from
    any checkout imports and reads that checkout's own files."""
    bad = [str(path.relative_to(ROOT))
           for path in sorted((ROOT / "tests").rglob("*.py"))
           if str(ROOT) in path.read_text()]
    assert not bad, bad
