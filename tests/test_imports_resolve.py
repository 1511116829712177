"""Every ``toshi_spark`` import in the package and the root scripts
resolves, without Spark.

A function-local import (``from .segments import …`` inside a method)
only runs when its function does, so a deleted module or a renamed
helper can leave one that no other test reaches.  This walks the AST
of each file and checks that every imported module exists and that
every imported name is a submodule of it or defined at its top level.
"""

import ast
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "toshi_spark"

FILES = sorted([*(ROOT / PKG).rglob("*.py"), *ROOT.glob("*.py")])


def _module_file(module: str) -> Path | None:
    base = ROOT.joinpath(*module.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _module_of(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _bound(stmts) -> set[str]:
    """Names a module body binds, looking into if/try/with/for blocks
    but not into function or class bodies."""
    out: set[str] = set()
    for node in stmts:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            out.add(node.name)
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            out.update((a.asname or a.name).split(".")[0]
                       for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign,
                               ast.For, ast.AsyncFor)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            for t in targets:
                out.update(n.id for n in ast.walk(t)
                           if isinstance(n, ast.Name))
        for field in ("body", "orelse", "finalbody", "handlers"):
            out |= _bound(getattr(node, field, []))
    return out


_NAMES: dict[Path, set[str]] = {}


def _names(path: Path) -> set[str]:
    if path not in _NAMES:
        _NAMES[path] = _bound(ast.parse(path.read_text()).body)
    return _NAMES[path]


def _imports(path: Path):
    """(line, module, [names]) of each toshi_spark import in ``path``,
    with relative imports made absolute."""
    here = _module_of(path)
    package = here if path.name == "__init__.py" else here.rpartition(".")[0]
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG:
                    yield node.lineno, a.name, []
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")
                base = base[:len(base) - (node.level - 1)]
                module = ".".join(base + ([node.module] if node.module
                                          else []))
            else:
                module = node.module or ""
            if module.split(".")[0] == PKG:
                yield node.lineno, module, [a.name for a in node.names]


def _unresolved(path: Path) -> list[str]:
    bad = []
    for line, module, names in _imports(path):
        target = _module_file(module)
        if target is None:
            bad.append(f"{line}: no module {module}")
            continue
        for name in names:
            if name == "*" or _module_file(f"{module}.{name}") is not None:
                continue
            if name not in _names(target):
                bad.append(f"{line}: {module} defines no {name}")
    return bad


def test_toshi_spark_imports_resolve():
    assert sum(1 for p in FILES for _ in _imports(p)) > 100
    bad = {str(p.relative_to(ROOT)): _unresolved(p) for p in FILES}
    assert not {p: b for p, b in bad.items() if b}


def test_checker_flags_a_dangling_import(tmp_path, monkeypatch):
    """The check is live: an import of a deleted module, or of a name
    the module does not define, is reported."""
    pkg = tmp_path / PKG
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "kept.py").write_text("def f():\n    pass\n")
    (pkg / "user.py").write_text(
        "from .kept import f\n"
        "def g():\n"
        "    from .gone import h\n"
        "    from .kept import missing\n")
    monkeypatch.setattr(sys.modules[__name__], "ROOT", tmp_path)
    bad = _unresolved(pkg / "user.py")
    assert bad == [f"3: no module {PKG}.gone",
                   f"4: {PKG}.kept defines no missing"]
