"""Internal options: an optional parameter of an internal operator or
oracle SQL generator exists only while some caller sets it. A value no
caller changes is a constant of its module; a knob nobody turns only
doubles what the tests must cover.

The scan is static and import-aware: every call in the package,
``tests/`` and ``bench.py`` is resolved through ``import`` /
``from ... import`` (aliases, relative imports, package re-exports) to
the function it reaches, and each parameter it passes, by position or
by keyword, counts as set."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[2]
PKG = "rs_query_engine_spark"

# The internal surface: operator modules, the stream and sink helpers
# and the private oracle SQL generators of ``queries.py``. The public API
# (Catalog, Engine/Frame, expr, session.get_spark, the ``operators``
# package exports) is out: its callers live outside the repo.
SCOPE = (f"{PKG}.operators.", f"{PKG}.streaming.events", f"{PKG}.sources.sinks")


def _in_scope(mod: str, name: str, exported: set[str]) -> bool:
    if mod == f"{PKG}.queries":
        return name.startswith("_")
    return mod.startswith(SCOPE) and name not in exported


def unset_options(root: Path = REPO) -> dict[str, list[str]]:
    """``"module:function" -> [optional parameters no caller sets]``
    for the in-scope functions of the checkout at ``root``."""
    files = [*(root / PKG).rglob("*.py"), *(root / "tests").rglob("*.py"), root / "bench.py"]
    trees = {}
    for f in sorted(files):
        parts = list(f.relative_to(root).with_suffix("").parts)
        is_pkg = parts[-1] == "__init__"
        mod = ".".join(parts[:-1] if is_pkg else parts)
        trees[mod] = (ast.parse(f.read_text()), is_pkg)

    defs: dict[tuple[str, str], ast.FunctionDef] = {}
    imports: dict[str, dict[str, tuple[str, ...]]] = {}
    for mod, (tree, is_pkg) in trees.items():
        for node in tree.body:
            if isinstance(node, ast.FunctionDef):
                defs[mod, node.name] = node
        names = imports[mod] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    local = a.asname or a.name.split(".")[0]
                    names[local] = ("mod", a.name if a.asname else local)
            elif isinstance(node, ast.ImportFrom):
                src = node.module or ""
                if node.level:
                    parts = mod.split(".")
                    base = parts[: len(parts) - node.level + is_pkg]
                    src = ".".join(base + ([node.module] if node.module else []))
                for a in node.names:
                    sub = f"{src}.{a.name}"
                    names[a.asname or a.name] = (
                        ("mod", sub) if sub in trees else ("attr", src, a.name)
                    )

    def attr(mod: str, name: str, depth: int = 0):
        if (mod, name) in defs:
            return (mod, name)
        if f"{mod}.{name}" in trees:
            return ("mod", f"{mod}.{name}")
        hit = imports.get(mod, {}).get(name)
        if hit is None or depth > 8:
            return None
        return hit if hit[0] == "mod" else attr(hit[1], hit[2], depth + 1)

    def resolve(mod: str, node: ast.expr):
        if isinstance(node, ast.Name):
            if (mod, node.id) in defs:
                return (mod, node.id)
            hit = imports[mod].get(node.id)
            return hit if hit is None or hit[0] == "mod" else attr(hit[1], hit[2])
        if isinstance(node, ast.Attribute):
            base = resolve(mod, node.value)
            if base and base[0] == "mod":
                return attr(base[1], node.attr)
        return None

    set_by_someone: dict[tuple[str, str], set[str]] = {key: set() for key in defs}
    for mod, (tree, _) in trees.items():
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            key = resolve(mod, call.func)
            if key not in defs:
                continue
            args = defs[key].args
            positional = [a.arg for a in args.posonlyargs + args.args]
            if any(isinstance(a, ast.Starred) for a in call.args):
                set_by_someone[key].update(positional)
            set_by_someone[key].update(positional[: len(call.args)])
            for kw in call.keywords:
                if kw.arg is None:
                    set_by_someone[key].update(positional, (a.arg for a in args.kwonlyargs))
                else:
                    set_by_someone[key].add(kw.arg)

    exported: set[str] = set()
    for node in trees[f"{PKG}.operators"][0].body:
        if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", "") == "__all__":
            exported = set(ast.literal_eval(node.value))
    out = {}
    for (mod, name), fn in sorted(defs.items()):
        if not _in_scope(mod, name, exported):
            continue
        a = fn.args
        pos = a.posonlyargs + a.args
        optional = [p.arg for p in pos[len(pos) - len(a.defaults) :]] + [
            p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
        ]
        unset = [p for p in optional if p not in set_by_someone[mod, name]]
        if unset:
            out[f"{mod}:{name}"] = unset
    return out


def test_every_internal_option_has_a_caller_that_sets_it():
    unset = unset_options()
    listing = "\n".join(f"{fn}: {', '.join(ps)}" for fn, ps in unset.items())
    n = sum(map(len, unset.values()))
    assert not unset, (
        f"{n} internal options that no caller sets, in {len(unset)} functions "
        "(fix each at its one value, as a module constant where an oracle "
        f"SQL generator shares it):\n{listing}"
    )
