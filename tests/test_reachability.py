"""Tripwire: every top-level definition in ``nerzo_spark/`` is reached
from an entry point.

The entry points are the jobs (``jobs/run_kg.py``, ``jobs/make_gold.py``,
``jobs/verify_parity.py``), the driver contract ``__spark_entry__.py`` with
the catalog registry it imports, ``bench.py`` and ``perfbench/``.  Code
that only its own tests call is not part of the engine, so it fails here.

The walk reads source with ``ast`` and starts no Spark session.  From the
entry files it follows imports into repository modules.  A module that is
imported runs its module-level statements, so they are reached, and so are
the functions it hands to a query registry (``register``/``_register``
decorators).  A reached definition reaches the names its body, decorators
and defaults use, through the module's own definitions and its imports.
``perfbench/trace.py`` patches some functions by name (``_wrap(module,
"name", ...)``), and ``get_spark`` names the Python workers' daemon by its
module (``.config("spark.python.daemon.module", "dotted.name")``), which
Spark runs as ``python -m``; those strings count too.  Docstrings and
comments do not: a name mentioned only in prose is not reached.

``ALLOWED`` names the definitions kept without an entry point, each with
its reason.  An entry that something now reaches, or that no longer
exists, fails the test too, so the list can only shrink."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "nerzo_spark"

ENTRY_FILES = [
    ROOT / "jobs" / "run_kg.py",
    ROOT / "jobs" / "make_gold.py",
    ROOT / "jobs" / "verify_parity.py",
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
]

REGISTRY_DECORATORS = {"register", "_register"}

# Spark settings whose value is a module that Spark runs
MODULE_SETTINGS = {"spark.python.daemon.module"}

_GOLD = "the test adapter over the committed gold triples (tests/test_kg_e2e.py)"
_GUARDS = ("the read API for skew-guard drops, structured records rather than "
           "print (tests/test_scale_guards.py)")
_SPANS = ("span detection alone: part of the reference composition the fused "
          "extract+link UDF is compared against (tests/test_fused_equivalence.py)")
_TOPK = ("top-k linking alone: part of the reference composition the fused "
         "extract+link UDF is compared against (tests/test_fused_equivalence.py)")

ALLOWED: dict[str, str] = {
    "nerzo_spark.fixtures.spark_io:GOLD_TRIPLE_SCHEMA": _GOLD,
    "nerzo_spark.fixtures.spark_io:gold_triples_df": _GOLD,
    "nerzo_spark.operators.skew:GuardRecord": _GUARDS,
    "nerzo_spark.operators.skew:guard_records": _GUARDS,
    "nerzo_spark.operators.spans:MENTION_COLUMNS": _SPANS,
    "nerzo_spark.operators.spans:_MENTION_SCHEMA": _SPANS,
    "nerzo_spark.operators.spans:detect_mentions": _SPANS,
    "nerzo_spark.operators.topk:LINK_SCHEMA": _TOPK,
    "nerzo_spark.operators.topk:link_topk": _TOPK,
}


def _module_path(dotted: str) -> Path | None:
    """The file of a repository module or package, or None."""
    base = ROOT.joinpath(*dotted.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


class _Module:
    """One parsed file: its top-level definitions and its import bindings."""

    def __init__(self, name: str, path: Path):
        self.name = name
        self.tree = ast.parse(path.read_text(), filename=str(path))
        # name -> the top-level statements that bind it
        self.defs: dict[str, list[ast.stmt]] = {}
        # module-level statements that bind no name: they run on import
        self.body: list[ast.stmt] = []
        for stmt in self.tree.body:
            names = _bound_names(stmt)
            for n in names:
                self.defs.setdefault(n, []).append(stmt)
            if not names:
                self.body.append(stmt)
        # local name -> ("module", dotted) or ("name", dotted, attr); the
        # whole file's imports, function-local ones included
        self.imports: dict[str, tuple] = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self.imports[a.asname] = ("module", a.name)
                    else:
                        top = a.name.split(".")[0]
                        self.imports[top] = ("module", top)
            elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
                for a in node.names:
                    sub = f"{node.module}.{a.name}"
                    target = (("module", sub) if _module_path(sub)
                              else ("name", node.module, a.name))
                    self.imports[a.asname or a.name] = target


def _bound_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets: list[ast.expr] = []
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, (ast.AnnAssign, ast.AugAssign)):
        targets = [stmt.target]
    names = []
    for t in targets:
        for node in ast.walk(t):
            if isinstance(node, ast.Name):
                names.append(node.id)
    return names


def _registered(stmt: ast.stmt) -> bool:
    if not isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
        return False
    for deco in stmt.decorator_list:
        fn = deco.func if isinstance(deco, ast.Call) else deco
        name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
        if name in REGISTRY_DECORATORS:
            return True
    return False


class _Walk:
    def __init__(self):
        self.modules: dict[str, _Module] = {}
        self.reached: set[tuple[str, str]] = set()
        self._todo: list[tuple[_Module, ast.AST]] = []

    def module(self, dotted: str) -> _Module | None:
        """Import ``dotted``: parse it once and queue what import runs."""
        if dotted in self.modules:
            return self.modules[dotted]
        path = _module_path(dotted)
        if path is None:
            return None
        mod = self.modules[dotted] = _Module(dotted, path)
        if "." in dotted:
            self.module(dotted.rsplit(".", 1)[0])
        self._todo.extend((mod, stmt) for stmt in mod.body)
        for name, stmts in mod.defs.items():
            if any(_registered(s) for s in stmts):
                self.reach(mod, name)
        return mod

    def reach(self, mod: _Module, name: str) -> None:
        """Reach ``name`` as looked up in ``mod``'s namespace."""
        if (mod.name, name) in self.reached:
            return
        self.reached.add((mod.name, name))
        if name in mod.defs:
            self._todo.extend((mod, stmt) for stmt in mod.defs[name])
        target = mod.imports.get(name)
        if target is not None:
            self.resolve(target)

    def resolve(self, target: tuple) -> _Module | None:
        """The module a binding names, or None after reaching the name."""
        if target[0] == "module":
            return self.module(target[1])
        owner = self.module(target[1])
        if owner is not None:
            self.reach(owner, target[2])
        return None

    def attribute(self, mod: _Module, node: ast.Attribute) -> None:
        """Reach ``pkg.module.name`` chains that start at an imported module."""
        chain: list[str] = []
        base: ast.expr = node
        while isinstance(base, ast.Attribute):
            chain.append(base.attr)
            base = base.value
        if not isinstance(base, ast.Name) or base.id not in mod.imports:
            return
        cur = self.resolve(mod.imports[base.id])
        for attr in reversed(chain):
            if cur is None:
                return
            sub = self.module(f"{cur.name}.{attr}")
            if sub is None:
                self.reach(cur, attr)
            cur = sub

    def visit(self, mod: _Module, root: ast.AST) -> None:
        for node in ast.walk(root):
            if isinstance(node, ast.Name):
                self.reach(mod, node.id)
            elif isinstance(node, ast.Attribute):
                self.attribute(mod, node)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    if isinstance(node, ast.Import):
                        self.module(a.name)
                    elif node.module and not node.level:
                        self.reach(mod, a.asname or a.name)
            elif (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                  and node.func.attr == "_wrap" and len(node.args) >= 2
                  and isinstance(node.args[0], ast.Name)
                  and isinstance(node.args[1], ast.Constant)):
                # perfbench's tracer: _wrap(module, "name", ...)
                target = mod.imports.get(node.args[0].id)
                owner = self.resolve(target) if target else None
                if owner is not None:
                    self.reach(owner, node.args[1].value)
            elif (isinstance(node, ast.Call) and len(node.args) >= 2
                  and isinstance(node.args[0], ast.Constant)
                  and node.args[0].value in MODULE_SETTINGS
                  and isinstance(node.args[1], ast.Constant)):
                # .config("spark.python.daemon.module", "dotted.name")
                self.module(node.args[1].value)

    def run(self) -> None:
        for path in ENTRY_FILES:
            entry = _Module(f"<entry {path.relative_to(ROOT)}>", path)
            self._todo.append((entry, entry.tree))
        while self._todo:
            mod, node = self._todo.pop()
            self.visit(mod, node)


def _package_definitions() -> set[str]:
    found = set()
    for path in sorted((ROOT / PACKAGE).rglob("*.py")):
        dotted = ".".join(path.relative_to(ROOT).with_suffix("").parts)
        dotted = dotted.removesuffix(".__init__")
        for name in _Module(dotted, path).defs:
            found.add(f"{dotted}:{name}")
    return found


def _reached() -> set[str]:
    walk = _Walk()
    walk.run()
    return {f"{m}:{n}" for m, n in walk.reached if m.startswith(PACKAGE + ".")}


def test_every_definition_is_reached_from_an_entry_point():
    unreached = sorted(_package_definitions() - _reached() - set(ALLOWED))
    assert not unreached, (
        "no entry point reaches these definitions: delete them, wire them "
        "into an entry point, or add them to ALLOWED with a reason:\n  "
        + "\n  ".join(unreached)
    )


def test_allowed_entries_exist_and_are_unreached():
    defined, reached = _package_definitions(), _reached()
    gone = sorted(set(ALLOWED) - defined)
    assert not gone, f"ALLOWED names definitions that no longer exist: {gone}"
    wired = sorted(set(ALLOWED) & reached)
    assert not wired, f"an entry point reaches these now: take them off ALLOWED: {wired}"
