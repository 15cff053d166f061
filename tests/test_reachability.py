"""Every top-level definition under ``wtq/`` is reached from what the
system runs, or is on a short list kept with a reason.

A pure ``ast`` walk, no imports of the code under test.  The roots are
the registry and its oracle (``QUERIES``, ``ORACLE_SQL``), the pipeline
(``run_pipeline``, ``decide``), the build (``build_training_set``) and
every definition in ``oracle/``, ``bench.py``, ``bench/scaling.py``,
``perfbench/``, ``__spark_entry__.py`` and ``wtq/daemon.py`` (the
Python worker daemon, which Spark starts by module name).  A reference is matched by
module and name: a bare ``name`` resolves through the referring
module's own definitions and imports, ``alias.attr`` through the
module that ``alias`` names, so ``pd.read_csv`` never counts as a use
of some ``wtq`` ``read_csv``.
Re-exports are followed to the defining module.  Reaching a class
reaches its bases, decorators and dunder methods, not its other
members: a method, property or field (``Class.member``) counts as
reached only when an attribute of that name (``x.member``) appears in
reached ``wtq`` code or in a root file.  That is a match by name alone,
so it errs towards "reached"; it is what keeps a property that only
tests read from hiding behind its class.  A module-level ``assert`` is
a check on definitions, not a use of them: a table that only an
import-time assert reads is unreached.  Dunder names (``__getattr__``,
``__version__``) are module protocol, not definitions, and are skipped.

The same resolution checks options: every defaulted parameter of a
module-level ``wtq`` function must be passed by some call outside
``tests/``, or be on a short list kept with a reason.  An option that
no workload sets is a constant, and a test that needs another value
patches the module constant the function reads.  It also checks the
root files' calls against the signatures they resolve to, so a
signature change that breaks only a benchmark call fails here.
"""

from __future__ import annotations

import ast
import importlib
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent

ROOTS = {
    ("wtq.queries", "QUERIES"),
    ("wtq.queries", "ORACLE_SQL"),
    ("wtq.pipeline", "run_pipeline"),
    ("wtq.pipeline", "decide"),
    ("wtq.build", "build_training_set"),
}
# wtq/daemon.py is started by name (`python -m wtq.daemon`, named in
# get_spark's config), so no reference leads to it; bench/scaling.py is
# the north-rule scaling harness
ROOT_FILES = (
    "oracle/*.py", "bench.py", "bench/scaling.py", "perfbench/*.py",
    "__spark_entry__.py", "wtq/daemon.py",
)

# (module, name or "Class.member") -> why it stays although no root
# reaches it
KEPT = {
    ("wtq.checkpoint", "MARKER"): "resumable-from-checkpoint run (test_checkpoint.py)",
    ("wtq.checkpoint", "chunk_expr"): "chunk predicate behind test_bucket_contract.py",
    ("wtq.checkpoint", "committed_chunks"): "resumable-from-checkpoint run (test_checkpoint.py)",
    ("wtq.checkpoint", "_marker"): "resumable-from-checkpoint run (test_checkpoint.py)",
    ("wtq.checkpoint", "_sealed"): "resumable-from-checkpoint run (test_checkpoint.py)",
    ("wtq.checkpoint", "run_checkpointed"): "resumable-from-checkpoint run (test_checkpoint.py)",
    ("wtq.checkpoint", "read_chunks"): "resumable-from-checkpoint run (test_checkpoint.py)",
    ("wtq.rules.registry", "registry_df"): "the err_codes dimension table",
    ("wtq.rules.registry", "rule_rows"): "the err_codes dimension rows",
    ("wtq.rules.registry", "Rule.description"): "the err_codes description column (rule_rows)",
    ("wtq.rules.registry", "Rule.about"): "the err_codes description template (Rule.description)",
    ("wtq.pipeline", "rule_fire_counts"): "the err_codes join",
}

# (module, function, parameter) -> why it stays although no call
# outside tests/ sets it
KEPT_PARAMS = {
    ("wtq.checkpoint", "run_checkpointed", "n_chunks"): "resume granularity: README step 4 sets it (test_checkpoint.py)",
    ("wtq.operators.curation", "incremental_corpus_dedup", "id_col"): "column name: the operator runs on another schema",
    ("wtq.operators.curation", "incremental_corpus_dedup", "text_col"): "column name: the operator runs on another schema",
}


def _module_name(path: pathlib.Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


class _Module:
    """One parsed file: its top-level definitions, the members of its
    classes, its import table (local name -> dotted target, from any
    depth, since imports inside functions are common here) and the
    reference walk."""

    def __init__(self, path: pathlib.Path):
        self.name = _module_name(path)
        self.tree = ast.parse(path.read_text(), str(path))
        self.defs: dict[str, list[ast.AST]] = {}
        # what reaching a definition walks: the whole node, except that
        # a class's non-dunder members ("Class.member") are walked only
        # once the member itself is reached
        self.bodies: dict[str, list[ast.AST]] = {}
        self.members: dict[str, list[str]] = {}  # class -> "Class.member" keys
        for node in self.tree.body:
            for name in _defined_names(node):
                if not _dunder(name):
                    self.defs.setdefault(name, []).append(node)
                    self.bodies.setdefault(name, []).extend(self._own(name, node))
        self.imports: dict[str, set[str]] = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self.imports.setdefault(a.asname, set()).add(a.name)
                    else:  # `import a.b` binds `a`
                        top = a.name.split(".")[0]
                        self.imports.setdefault(top, set()).add(top)
            elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
                for a in node.names:
                    self.imports.setdefault(a.asname or a.name, set()).add(f"{node.module}.{a.name}")

    def _own(self, name: str, node: ast.AST) -> list[ast.AST]:
        if not isinstance(node, ast.ClassDef):
            return [node]
        own = [*node.bases, *node.keywords, *node.decorator_list]
        for stmt in node.body:
            names = [n for n in _defined_names(stmt) if not _dunder(n)]
            if not names:
                own.append(stmt)
            for n in names:
                key = f"{name}.{n}"
                self.bodies.setdefault(key, []).append(stmt)
                self.members.setdefault(name, []).append(key)
        return own

    def top_level_code(self) -> list[ast.AST]:
        return [
            n for n in self.tree.body
            if not _defined_names(n) and not isinstance(n, ast.Assert)
        ]


def _defined_names(node: ast.AST) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        return [t.id for t in node.targets if isinstance(t, ast.Name)]
    if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        return [node.target.id]
    return []


def _load_modules() -> tuple[dict[str, _Module], list[_Module]]:
    wtq = {m.name: m for m in map(_Module, sorted((ROOT / "wtq").rglob("*.py")))}
    roots = [_Module(p) for g in ROOT_FILES for p in sorted(ROOT.glob(g))]
    return wtq, roots


def _resolve(wtq: dict[str, _Module], dotted: str, seen: frozenset = frozenset()):
    """Dotted target -> ('module', mod) or ('def', (mod, name)), following
    re-exports; None when it is not under wtq."""
    if dotted in wtq:
        return ("module", dotted)
    mod, _, name = dotted.rpartition(".")
    if mod not in wtq or dotted in seen:
        return None
    m = wtq[mod]
    if name in m.defs:
        return ("def", (mod, name))
    for target in m.imports.get(name, ()):
        hit = _resolve(wtq, target, seen | {dotted})
        if hit:
            return hit
    return None


def _references(wtq: dict[str, _Module], module: _Module, nodes: list[ast.AST]) -> set:
    """The (module, name) definitions that `nodes` refer to."""
    out = set()

    def local(name: str) -> list:
        if name in module.defs and module.name in wtq:
            return [("def", (module.name, name))]
        return [h for t in module.imports.get(name, ()) if (h := _resolve(wtq, t))]

    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out |= {ref for kind, ref in local(node.id) if kind == "def"}
            elif isinstance(node, ast.Attribute):
                # alias.attr / pkg.mod.attr: resolve the dotted chain
                chain, base = [node.attr], node.value
                while isinstance(base, ast.Attribute):
                    chain.append(base.attr)
                    base = base.value
                if not isinstance(base, ast.Name):
                    continue
                for kind, ref in local(base.id):
                    if kind != "module":
                        continue
                    dotted = ".".join([ref, *reversed(chain)])
                    # the longest prefix that resolves to a definition
                    parts = dotted.split(".")
                    for i in range(len(parts), 0, -1):
                        hit = _resolve(wtq, ".".join(parts[:i]))
                        if hit and hit[0] == "def":
                            out.add(hit[1])
                            break
    return out


def _attr_names(nodes: list[ast.AST]) -> set[str]:
    return {n.attr for top in nodes for n in ast.walk(top) if isinstance(n, ast.Attribute)}


def unreached() -> set[tuple[str, str]]:
    """Top-level wtq definitions that no root reaches, and the
    ("Class.member") members of reached classes that no reached code
    names as an attribute."""
    wtq, root_files = _load_modules()
    todo = set(ROOTS)
    attrs: set[str] = set()
    for m in root_files:
        todo |= _references(wtq, m, m.tree.body)
        attrs |= _attr_names(m.tree.body)
    reached: set = set()
    live_modules: set = set()
    waiting: set = set()  # members of reached classes, not yet reached
    while todo:
        while todo:
            mod, name = todo.pop()
            if (mod, name) in reached:
                continue
            reached.add((mod, name))
            m = wtq[mod]
            walked = list(m.bodies[name])
            waiting |= {(mod, key) for key in m.members.get(name, ())}
            if mod not in live_modules:  # importing a module runs its top level
                live_modules.add(mod)
                walked += m.top_level_code()
            todo |= _references(wtq, m, walked)
            attrs |= _attr_names(walked)
        named = {(mod, key) for mod, key in waiting if key.rpartition(".")[2] in attrs}
        waiting -= named
        todo |= named
    every = {(m.name, d) for m in wtq.values() for d in m.defs}
    return (every - reached) | waiting


def _callees(wtq: dict[str, _Module], module: _Module, call: ast.Call) -> list:
    """(module, name, def) of the module-level wtq functions that `call`
    names (`f(...)` or `alias.f(...)`)."""
    func = call.func
    name = func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)
    return [
        (mod, n, d)
        for mod, n in _references(wtq, module, [func]) if n == name
        for d in wtq[mod].defs[n] if isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]


def _defaulted(fn: ast.FunctionDef) -> set[str]:
    a = fn.args
    pos = a.posonlyargs + a.args
    return {p.arg for p in pos[len(pos) - len(a.defaults):]} | {
        k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    }


def _set_params(fn: ast.FunctionDef, call: ast.Call) -> set[str]:
    """Parameters of `fn` that `call` passes, by position or keyword; a
    `*` or `**` argument passes them all."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    if any(isinstance(x, ast.Starred) for x in call.args) or any(k.arg is None for k in call.keywords):
        return {*pos, *(k.arg for k in a.kwonlyargs)}
    return set(pos[: len(call.args)]) | {k.arg for k in call.keywords}


def _calls(m: _Module):
    return (n for n in ast.walk(m.tree) if isinstance(n, ast.Call))


def unset_options() -> set[tuple[str, str, str]]:
    """(module, function, parameter) of every defaulted parameter of a
    module-level wtq function that no call outside tests/ passes."""
    wtq, root_files = _load_modules()
    every = {
        (m.name, name, p)
        for m in wtq.values()
        for name, nodes in m.defs.items()
        for fn in nodes if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        for p in _defaulted(fn)
    }
    set_by_code = {
        (mod, name, p)
        for m in [*wtq.values(), *root_files]
        for call in _calls(m)
        for mod, name, fn in _callees(wtq, m, call)
        for p in _set_params(fn, call)
    }
    return every - set_by_code


def _signature_errors(fn: ast.FunctionDef, call: ast.Call) -> list[str]:
    """How `call` fails to bind to `fn`'s parameters: too many
    positional arguments, an unknown or repeated keyword, a required
    parameter left out.  A call with a `*` or `**` argument is not
    checked."""
    if any(isinstance(x, ast.Starred) for x in call.args) or any(k.arg is None for k in call.keywords):
        return []
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    named = [k.arg for k in call.keywords]
    errors = []
    if len(call.args) > len(pos) and a.vararg is None:
        errors.append(f"{len(call.args)} positional arguments, takes {len(pos)}")
    by_keyword = set(pos[len(a.posonlyargs):]) | {k.arg for k in a.kwonlyargs}
    if a.kwarg is None and set(named) - by_keyword:
        errors.append(f"unknown keywords {sorted(set(named) - by_keyword)}")
    if twice := set(pos[: len(call.args)]) & set(named):
        errors.append(f"passed twice {sorted(twice)}")
    required = set(pos[: len(pos) - len(a.defaults)]) | {
        k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is None
    }
    if missing := required - set(pos[: len(call.args)]) - set(named):
        errors.append(f"missing {sorted(missing)}")
    return errors


def root_call_errors() -> list[str]:
    """`file:line callee: errors` for every call in a root file that
    resolves to a module-level wtq function and does not fit its
    signature."""
    wtq, root_files = _load_modules()
    return [
        f"{m.name}:{call.lineno} {mod}.{name}: {', '.join(errors)}"
        for m in root_files
        for call in _calls(m)
        for mod, name, fn in _callees(wtq, m, call)
        if (errors := _signature_errors(fn, call))
    ]


def test_only_kept_definitions_are_unreached():
    got = unreached()
    assert got == set(KEPT), (
        f"unreached but not kept: {sorted(got - set(KEPT))}; "
        f"kept but reached or gone: {sorted(set(KEPT) - got)}"
    )


def test_every_option_has_a_caller():
    got = unset_options()
    assert got == set(KEPT_PARAMS), (
        f"set by no call outside tests but not kept: {sorted(got - set(KEPT_PARAMS))}; "
        f"kept but set outside tests or gone: {sorted(set(KEPT_PARAMS) - got)}"
    )


def test_root_calls_match_signatures():
    """perfbench/, bench.py and the other root files are not run by the
    tests, so a wtq signature change that breaks only their calls is
    caught here, without running them."""
    assert root_call_errors() == []


def test_lazy_api_table_resolves():
    """Every (module, attr) pair in wtq/__init__.py's lazy export table
    imports and names an attribute."""
    tree = ast.parse((ROOT / "wtq" / "__init__.py").read_text())
    table = next(
        n.value for n in ast.walk(tree)
        if isinstance(n, ast.Assign) and any(getattr(t, "id", None) == "_API" for t in n.targets)
    )
    pairs = [ast.literal_eval(v) for v in table.values]
    assert pairs
    missing = [(mod, attr) for mod, attr in pairs if not hasattr(importlib.import_module(mod), attr)]
    assert not missing, missing
