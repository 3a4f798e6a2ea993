"""Every module-level function and class in the package is reached by the
program itself, not only by tests.

"Reached" means referenced by name (a name, an attribute or an import) from
the package, the driver entry, the bench harnesses or the scripts. A
definition's references to itself do not count, and neither do references
from inside another unreached definition: the scan repeats until no more
definitions drop out.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "mindsdb_spark"
PROGRAM = (
    PACKAGE, ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "perfbench", ROOT / "scripts"
)
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _py_files(path: Path) -> list[Path]:
    if path.is_file():
        return [path]
    return sorted(path.rglob("*.py"))


def _references(tree: ast.Module):
    """(name, enclosing top-level definition or None) for every name use."""
    for top in tree.body:
        owner = top.name if isinstance(top, _DEFS) else None
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                yield node.id, owner
            elif isinstance(node, ast.Attribute):
                yield node.attr, owner
            elif isinstance(node, ast.alias):
                yield node.name.rsplit(".", 1)[-1], owner


def _unreached() -> list[str]:
    defs: dict[str, list[tuple[str, int]]] = {}
    for path in _py_files(PACKAGE):
        rel = path.relative_to(ROOT)
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, _DEFS):
                defs.setdefault(node.name, []).append((str(rel), node.lineno))
    refs = [
        ref
        for root in PROGRAM
        for path in _py_files(root)
        for ref in _references(ast.parse(path.read_text()))
    ]
    dead: set[str] = set()
    while True:
        live = {name for name, owner in refs if owner != name and owner not in dead}
        now = set(defs) - live
        if now == dead:
            return [
                f"{path}:{line} {name}"
                for path, line, name in sorted((*loc, name) for name in dead for loc in defs[name])
            ]
        dead = now


def test_every_definition_is_reached_by_the_program():
    unreached = _unreached()
    assert not unreached, "reached only from tests or not at all:\n" + "\n".join(unreached)
