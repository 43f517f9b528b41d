"""Every top-level function and class in the package must be reachable
from a real entry point, not only from tests.

The entry points are the bodies of the ``@query`` registry rows, module
top-level code (decorators, defaults, base classes and ``__main__``
blocks included), the re-exports of the package ``__init__`` files, and
every line of ``bench.py``, ``__spark_entry__.py``, ``tools/`` and the
non-test ``perfbench/`` files. From there the closure follows names the
way Python resolves them: a bare name to the module's own definition or
to what the module imported under that name, and ``module.attr`` to the
definition ``attr`` in that module. A reachable class brings all of its
methods. Docstrings and other strings are not references, so a name a
comment or docstring mentions is not kept alive by it.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "etl_pdf_pipepline_spark"

# Names the closure cannot see, each kept on purpose.
ALLOWLIST = {
    # COVERAGE M1, the reference's upsert; the planned delta flush uses it
    f"{PKG}.sources.sinks.upsert",
    # COVERAGE Q8, the reference's OpenAI embedding provider
    f"{PKG}.retrieval.embedder.OpenAICompatibleEmbedder",
    # the package's lazy attribute hook; Python calls it, no code does
    f"{PKG}.__getattr__",
    # lazy public API, reached only by name through that hook
    f"{PKG}.pipeline.chunk_text",
    f"{PKG}.pipeline.chunk_dataframe",
    # registers every table as a temp view for ad-hoc SQL sessions
    f"{PKG}.sources.catalog.register_views",
    # the reference that the Arrow cosine path is tested against
    f"{PKG}.functions.vectors.cosine_scores_pandas",
}


def _module_name(path: Path) -> str:
    rel = path.relative_to(ROOT).with_suffix("")
    parts = list(rel.parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _resolve_from(module: str, is_pkg: bool, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module or ""
    base = module.split(".")
    if not is_pkg:
        base.pop()
    base = base[: len(base) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


class _Module:
    def __init__(self, path: Path):
        self.name = _module_name(path)
        self.is_pkg = path.name == "__init__.py"
        self.tree = ast.parse(path.read_text(), str(path))
        self.defs: dict[str, ast.AST] = {}
        for node in self.tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.defs[node.name] = node
        # every import anywhere in the file: alias -> dotted target
        self.aliases: dict[str, str] = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self.aliases[a.asname] = a.name
                    else:
                        self.aliases[a.name.split(".")[0]] = a.name.split(".")[0]
            elif isinstance(node, ast.ImportFrom):
                src = _resolve_from(self.name, self.is_pkg, node)
                for a in node.names:
                    self.aliases[a.asname or a.name] = f"{src}.{a.name}"

    def top_level_code(self) -> list[ast.AST]:
        """What runs on import: statements outside function and class
        bodies, plus decorators, defaults, annotations and base classes."""
        out: list[ast.AST] = []
        for node in self.tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out += node.decorator_list + node.args.defaults
                out += [d for d in node.args.kw_defaults if d is not None]
            elif isinstance(node, ast.ClassDef):
                out += node.decorator_list + node.bases + [k.value for k in node.keywords]
            else:
                out.append(node)
        return out


def _is_query_row(node: ast.AST) -> bool:
    for d in getattr(node, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        if isinstance(f, ast.Name) and f.id == "query":
            return True
    return False


def _dotted(node: ast.AST) -> list[str] | None:
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    parts.append(node.id)
    return parts[::-1]


class _Closure:
    def __init__(self):
        pkg_files = sorted((ROOT / PKG).rglob("*.py"))
        self.modules = {m.name: m for m in map(_Module, pkg_files)}
        self.defined = {f"{m.name}.{d}" for m in self.modules.values() for d in m.defs}
        self.reached: set[str] = set()
        self.todo: list[tuple[_Module, ast.AST]] = []

    def _target(self, mod: _Module, parts: list[str]) -> str | None:
        head, rest = parts[0], parts[1:]
        if head in mod.defs:
            base = f"{mod.name}.{head}"
        elif head in mod.aliases:
            base = mod.aliases[head]
        else:
            return None
        # follow attributes while the prefix names a module
        dotted = base
        for attr in rest:
            if dotted in self.modules:
                dotted = f"{dotted}.{attr}"
            else:
                break
        # a name imported through a package __init__ re-export
        while dotted not in self.defined and dotted.rsplit(".", 1)[0] in self.modules:
            owner, name = dotted.rsplit(".", 1)
            nxt = self.modules[owner].aliases.get(name)
            if nxt is None or nxt == dotted:
                break
            dotted = nxt
        return dotted if dotted in self.defined else None

    def visit(self, mod: _Module, node: ast.AST) -> None:
        for sub in ast.walk(node):
            if isinstance(sub, (ast.Name, ast.Attribute)):
                parts = _dotted(sub)
                target = parts and self._target(mod, parts)
                if target:
                    self.reach(target)

    def reach(self, qualname: str) -> None:
        if qualname in self.reached:
            return
        self.reached.add(qualname)
        owner, name = qualname.rsplit(".", 1)
        self.todo.append((self.modules[owner], self.modules[owner].defs[name]))

    def run(self, roots: list[tuple[_Module, ast.AST]]) -> set[str]:
        self.todo += roots
        while self.todo:
            self.visit(*self.todo.pop())
        return self.reached


def _entry_files() -> list[Path]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    files += sorted((ROOT / "tools").glob("*.py"))
    files += sorted(p for p in (ROOT / "perfbench").glob("*.py") if not p.name.startswith("test_"))
    return files


def unreachable() -> list[str]:
    c = _Closure()
    roots: list[tuple[_Module, ast.AST]] = []
    for mod in c.modules.values():
        roots += [(mod, n) for n in mod.top_level_code()]
        for name, node in mod.defs.items():
            if _is_query_row(node):
                c.reach(f"{mod.name}.{name}")
        if mod.is_pkg:
            for alias in mod.aliases:
                roots.append((mod, ast.Name(id=alias, ctx=ast.Load())))
    for path in _entry_files():
        entry = _Module(path)
        # entry files sit outside the package: resolve only their imports
        entry.defs = {}
        roots.append((entry, entry.tree))
    for qualname in ALLOWLIST:
        c.reach(qualname)
    reached = c.run(roots)
    return sorted(c.defined - reached)


def test_allowlist_names_exist():
    missing = sorted(set(ALLOWLIST) - _Closure().defined)
    assert not missing, f"allowlisted names no longer defined: {missing}"


def test_every_package_def_is_reachable_from_an_entry_point():
    dead = unreachable()
    assert not dead, (
        "top-level package functions or classes that no entry point reaches "
        "(delete them with their tests, or allowlist one with a reason): " + ", ".join(dead)
    )
