"""No def, constant, import or parameter that no caller uses, and no
string naming the reference checkout.

Six checks over the package and ``__spark_entry__.py``, all on the AST
(no Spark):

1. Reachability. An AST name closure from the real entrypoints:

   - roots: the functions ``queries()`` returns, ``oracle_sql`` and
     ``entry``; every module-level statement of the package that is not
     a definition, and every decorator; every name used in the runnable
     scripts (``ENTRY_SCRIPTS``);
   - definitions: top-level defs and classes, and module-level
     assignments to plain names (constants); a reached definition adds
     every name its body (or right-hand side) uses;
   - an ``ast.Name`` and an ``ast.Attribute`` each count as a reference,
     and in the package so does an identifier-shaped string constant
     (comments never do). Strings of ``__spark_entry__.py`` do not
     count: they are SQL text and registry keys, so a query dropped
     from ``queries()`` is not kept alive by its oracle's key. Nor do
     the strings of an ``__all__`` list: it names what a module
     offers, not what code uses. Imports are not references, so a def
     only imported somewhere is not reached.

   Names are matched without their module, which can only over-reach:
   a definition is flagged only when no reached code names it at all.
2. Registry. ``queries()`` and ``oracle_sql()`` have the same keys.
3. Imports. Every module-level import binds a name its module uses.
4. Parameters. Every defaulted parameter of a top-level def is set by
   some call in the repository (entrypoints, ``perfbench/``, scripts,
   tests): passed by keyword or by position. A ``**kw`` argument sets
   the keys of the dict literal or ``dict(...)`` its def binds to
   ``kw``, or, when ``kw`` is that def's own ``**`` parameter, the keys
   the def's callers pass into it; any other ``**`` argument sets
   every parameter. A ``*`` argument sets one position per element of
   the tuple or list literal it unpacks; any other ``*`` argument sets
   nothing. Callees are matched by name only, which can only
   over-count what is set. A parameter no call sets is a constant, so
   it belongs in the body.
5. Module state. No function rebinds a module-level name with
   ``global``, apart from the ``GLOBAL_KEEP`` list: module-level state
   a call leaves behind is read by whoever runs next, and a result a
   caller needs belongs in the return value.
6. Paths. No string constant outside a docstring names a path under
   ``REFERENCE`` (the reference checkout, which a host running the
   engine does not have), here and in the scripts and tests;
   docstrings may cite the reference's files.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "osm_sidewalkreator_spark"
ENTRY = ROOT / "__spark_entry__.py"
ENTRY_SCRIPTS = (
    "bench.py", "job.py", "job_curate.py", "perfbench/*.py",
    "scripts/verify_local.py", "scripts/dump_plans.py")

# Where the reference repository was checked out; no code reads it.
REFERENCE = "/root/reference"

# Each kept def with the reason it stays although no entrypoint calls it.
KEEP = {
    "osm_sidewalkreator_spark.operators.raster.rasterize_segments":
        "the only vector->raster path of the raster<->vector joins",
}

# Each defaulted parameter that no call sets but stays a parameter.
# Only deployment settings belong here.
PARAM_KEEP: dict[str, str] = {}

# Each function that rebinds a module-level name, with its reason.
GLOBAL_KEEP = {
    "osm_sidewalkreator_spark.geometry.noding._triu_cached":
        "byte-budgeted LRU cache of np.triu_indices, a measured hotspot",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _refs(node: ast.AST, strings: bool = True) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif (strings and isinstance(n, ast.Constant)
              and isinstance(n.value, str) and _IDENT.match(n.value)):
            out.add(n.value)
    return out


def _module_name(path: Path) -> str:
    rel = path.relative_to(ROOT).with_suffix("")
    return ".".join(rel.parts)


def _sources() -> list[Path]:
    return sorted(PACKAGE.rglob("*.py")) + [ENTRY]


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


def _assigned_names(node: ast.AST) -> list[str]:
    """Plain names a module-level assignment binds (dunders excluded)."""
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign) and node.value is not None:
        targets = [node.target]
    else:
        return []
    names = []
    for t in targets:
        elts = t.elts if isinstance(t, ast.Tuple) else [t]
        names += [e.id for e in elts if isinstance(e, ast.Name)
                  and not e.id.startswith("__")]
    return names


def _is_all(node: ast.AST) -> bool:
    """An ``__all__ = [...]`` export list: it names what a module
    offers, not what any code uses."""
    return isinstance(node, (ast.Assign, ast.AnnAssign)) and any(
        isinstance(t, ast.Name) and t.id == "__all__"
        for t in getattr(node, "targets", [getattr(node, "target", None)]))


def _returned_dict(tree: ast.Module, func: str) -> ast.Dict:
    fn = next(n for n in tree.body
              if isinstance(n, ast.FunctionDef) and n.name == func)
    return next(r.value for r in ast.walk(fn)
                if isinstance(r, ast.Return)
                and isinstance(r.value, ast.Dict))


def unreached_defs() -> dict[str, int]:
    """Qualified name -> line count of each top-level def or module
    constant not reached."""
    defs: dict[str, list[tuple[str, ast.AST, bool]]] = {}
    reached: set[str] = set()
    pending: list[str] = []

    def reach(names):
        for name in names - reached:
            reached.add(name)
            pending.append(name)

    for path in _sources():
        tree = _parse(path)
        mod = _module_name(path)
        strings = path != ENTRY
        for node in tree.body:
            names = _assigned_names(node)
            if isinstance(node, _DEFS):
                defs.setdefault(node.name, []).append((mod, node, strings))
                if strings:
                    for dec in node.decorator_list:
                        reach(_refs(dec))
            elif names:
                for name in names:
                    defs.setdefault(name, []).append((mod, node, strings))
            elif strings and not _is_all(node):
                reach(_refs(node))
        if path == ENTRY:
            roots = {"oracle_sql", "entry"}
            roots |= {v.id for v in _returned_dict(tree, "queries").values
                      if isinstance(v, ast.Name)}
            reach(roots)
    for pattern in ENTRY_SCRIPTS:
        for path in sorted(ROOT.glob(pattern)):
            reach(_refs(_parse(path)))

    while pending:
        for _, node, strings in defs.get(pending.pop(), ()):
            reach(_refs(node, strings))

    return {f"{mod}.{name}": node.end_lineno - node.lineno + 1
            for name, found in defs.items() if name not in reached
            for mod, node, _ in found}


def unused_imports() -> list[str]:
    """``module.name`` of each module-level import its module never
    names."""
    out = []
    for path in _sources():
        tree = _parse(path)
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in tree.body:
            if isinstance(node, ast.ImportFrom) \
                    and node.module == "__future__":
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for alias in node.names:
                    name = (alias.asname or alias.name).split(".")[0]
                    # a package __init__ imports to re-export
                    if name not in used and path.name != "__init__.py":
                        out.append(f"{_module_name(path)}.{name}")
    return out


def _defaulted_params(fn: ast.FunctionDef) -> dict[str, int | None]:
    """Defaulted parameter -> its position (None if keyword-only)."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out: dict[str, int | None] = {
        arg.arg: i for i, arg in enumerate(pos) if i >= first}
    out.update({arg.arg: None for arg, d in zip(a.kwonlyargs,
                                                 a.kw_defaults)
                if d is not None})
    return out


def _dict_keys(node: ast.AST) -> set[str] | None:
    """Keys of a ``{...}`` literal or ``dict(k=...)`` call, else None."""
    if isinstance(node, ast.Dict) and all(
            isinstance(k, ast.Constant) and isinstance(k.value, str)
            for k in node.keys):
        return {k.value for k in node.keys}
    if (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
            and node.func.id == "dict" and not node.args
            and all(k.arg for k in node.keywords)):
        return {k.arg for k in node.keywords}
    return None


def _calls(node: ast.AST, stack: tuple = ()):
    """(call, enclosing defs innermost last) for every call under node."""
    for child in ast.iter_child_nodes(node):
        inner = stack + (child,) if isinstance(child, _FUNCS) else stack
        if isinstance(child, ast.Call):
            yield child, stack
        yield from _calls(child, inner)


def _kwargs_source(name: str, stack: tuple):
    """What ``**name`` unpacks inside the defs ``stack``: the name of the
    def whose own ``**`` parameter it is (a str), the keys of the dict
    literal or ``dict(...)`` that def binds to it (a set), or None."""
    for fn in reversed(stack):
        if fn.args.kwarg is not None and fn.args.kwarg.arg == name:
            return fn.name
        bound = [n.value for n in ast.walk(fn) if isinstance(n, ast.Assign)
                 and any(isinstance(t, ast.Name) and t.id == name
                         for t in n.targets)]
        if bound:
            keys = [_dict_keys(v) for v in bound]
            return None if None in keys else set().union(*keys)
    return None


def _positions(args: list[ast.expr]) -> int:
    """How many leading positions a call's arguments set: a ``*`` of a
    tuple or list literal sets one per element, any other ``*`` sets
    none (nor any position after it)."""
    n = 0
    for a in args:
        if not isinstance(a, ast.Starred):
            n += 1
        elif isinstance(a.value, (ast.Tuple, ast.List)):
            n += len(a.value.elts)
        else:
            break
    return n


def unset_params() -> list[str]:
    """``module.def.param`` of each defaulted parameter of a top-level
    def that no call in the repository sets.

    A ``g(**kw)`` call sets only the keys ``kw`` can hold: those of a
    dict literal or ``dict(...)`` its def binds to ``kw``, or, when
    ``kw`` is the calling def's own ``**`` parameter, the keys the calls
    of that def pass to it. Any other ``**`` argument counts as setting
    every parameter; a ``*`` argument sets only the positions of the
    literal it unpacks (``_positions``)."""
    params: dict[str, list[tuple[str, dict]]] = {}
    for path in _sources():
        for node in _parse(path).body:
            if isinstance(node, _FUNCS):
                dflt = _defaulted_params(node)
                if dflt:
                    params.setdefault(node.name, []).append(
                        (_module_name(path), dflt))
    keywords: dict[str, set[str]] = {}
    n_pos: dict[str, int] = {}
    named: dict[str, set[str]] = {}
    starred: set[str] = set()
    forwards: set[tuple[str, str]] = set()
    for path in sorted(ROOT.rglob("*.py")):
        if any(p.startswith(".") or p == "data"
               for p in path.relative_to(ROOT).parts):
            continue
        tree = _parse(path)
        for fn in ast.walk(tree):
            if isinstance(fn, _FUNCS):
                a = fn.args
                named.setdefault(fn.name, set()).update(
                    x.arg for x in a.posonlyargs + a.args + a.kwonlyargs)
        for n, stack in _calls(tree):
            f = n.func
            name = f.id if isinstance(f, ast.Name) else \
                f.attr if isinstance(f, ast.Attribute) else None
            if name is None:
                continue
            keys = keywords.setdefault(name, set())
            keys |= {k.arg for k in n.keywords if k.arg}
            n_pos[name] = max(n_pos.get(name, 0), _positions(n.args))
            for k in n.keywords:
                if k.arg is not None:
                    continue
                src = _dict_keys(k.value)
                if src is None and isinstance(k.value, ast.Name):
                    src = _kwargs_source(k.value.id, stack)
                if isinstance(src, str):
                    forwards.add((src, name))
                elif src is None:
                    starred.add(name)
                else:
                    keys |= src
    # a def's ** parameter holds the keys its calls pass beyond its
    # named parameters; follow the forwards until nothing changes
    changed = True
    while changed:
        changed = False
        for src, dst in forwards:
            extra = (keywords.get(src, set()) - named.get(src, set())
                     - keywords.setdefault(dst, set()))
            if extra:
                keywords[dst] |= extra
                changed = True
        for src, dst in forwards:
            if src in starred and dst not in starred:
                starred.add(dst)
                changed = True
    return sorted(
        f"{mod}.{name}.{p}"
        for name, found in params.items() if name not in starred
        for mod, dflt in found for p, i in dflt.items()
        if p not in keywords.get(name, set())
        and (i is None or i >= n_pos.get(name, 0)))


def reference_paths() -> list[str]:
    """``file:line`` of each string constant, docstrings apart, that
    names a path under ``REFERENCE``."""
    files = set(_sources()) | set(ROOT.glob("tests/*.py"))
    for pattern in ENTRY_SCRIPTS:
        files |= set(ROOT.glob(pattern))
    files.discard(Path(__file__).resolve())
    out = []
    for path in sorted(files):
        tree = _parse(path)
        docs = {id(n.body[0].value) for n in ast.walk(tree)
                if isinstance(n, (ast.Module,) + _DEFS) and n.body
                and isinstance(n.body[0], ast.Expr)
                and isinstance(n.body[0].value, ast.Constant)}
        out += [f"{path.relative_to(ROOT)}:{n.lineno}"
                for n in ast.walk(tree)
                if isinstance(n, ast.Constant) and isinstance(n.value, str)
                and id(n) not in docs and REFERENCE in n.value]
    return out


def global_rebinds() -> list[str]:
    """``module.def`` (``module.outer.inner`` when nested) of each
    function that declares a ``global``."""
    out = []

    def visit(node: ast.AST, where: str):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Global):
                out.append(where)
            visit(child, f"{where}.{child.name}"
                  if isinstance(child, _DEFS) else where)

    for path in _sources():
        visit(_parse(path), _module_name(path))
    return sorted(set(out))


def test_every_top_level_def_is_reached_or_kept():
    unreached = unreached_defs()
    assert len(KEEP) <= 1
    dead = sorted(set(unreached) - set(KEEP))
    assert not dead, (
        f"{len(dead)} top-level defs and module constants "
        f"({sum(unreached[d] for d in dead)} lines) that no entrypoint "
        "reaches:\n" + "\n".join(dead))
    # a keep-list entry that is now reached (or gone) is stale
    assert set(KEEP) <= set(unreached), sorted(set(KEEP) - set(unreached))


def test_registry_and_oracles_have_the_same_queries():
    tree = _parse(ENTRY)
    keys = {f: {k.value for k in _returned_dict(tree, f).keys}
            for f in ("queries", "oracle_sql")}
    assert keys["queries"] == keys["oracle_sql"], (
        "queries() only: " + str(sorted(keys["queries"] - keys["oracle_sql"]))
        + "; oracle_sql() only: "
        + str(sorted(keys["oracle_sql"] - keys["queries"])))


def test_every_module_import_is_used():
    unused = unused_imports()
    assert not unused, (f"{len(unused)} module imports their module "
                        "never names:\n" + "\n".join(unused))


def test_every_defaulted_parameter_is_set_by_some_call():
    unset = unset_params()
    never = sorted(set(unset) - set(PARAM_KEEP))
    assert not never, (
        f"{len(never)} defaulted parameters that no call sets (make "
        "each its value, read in the body):\n" + "\n".join(never))
    assert set(PARAM_KEEP) <= set(unset), \
        sorted(set(PARAM_KEEP) - set(unset))


def test_no_function_rebinds_module_state():
    found = global_rebinds()
    extra = sorted(set(found) - set(GLOBAL_KEEP))
    assert not extra, (
        f"{len(extra)} functions that rebind a module-level name with "
        "`global`:\n" + "\n".join(extra))
    assert set(GLOBAL_KEEP) <= set(found), \
        sorted(set(GLOBAL_KEEP) - set(found))


def test_no_string_names_the_reference_checkout():
    found = reference_paths()
    assert not found, (
        f"{len(found)} string constants that name a path under "
        f"{REFERENCE}:\n" + "\n".join(found))
