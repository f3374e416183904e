"""The package keeps no module-global mutable state: caches, registries
and locks belong to an explicit scope (a DataFrame plan, a caller-owned
object), never to an import. An AST walk over every package module
fails on a ``global`` statement and on a module-level binding of an
empty container or of a lock / container constructor call."""

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "geograypher_spark"
STATE_CALLS = {"Lock", "RLock", "OrderedDict", "dict", "list", "set"}


def _call_name(node: ast.Call, aliases: dict) -> str | None:
    func = node.func
    if isinstance(func, ast.Attribute):
        return func.attr
    if isinstance(func, ast.Name):
        return aliases.get(func.id, func.id)
    return None


def _is_state(value: ast.AST | None, aliases: dict) -> bool:
    if isinstance(value, (ast.List, ast.Dict, ast.Set)):
        return not (value.keys if isinstance(value, ast.Dict) else value.elts)
    if isinstance(value, ast.Call):
        name = _call_name(value, aliases)
        if name == "set":
            return not (value.args or value.keywords)
        return name in STATE_CALLS
    return False


def module_state(source: str, filename: str = "<src>") -> list[str]:
    """``file:line`` of every ``global`` statement and every module-level
    assignment of mutable state in ``source``."""
    tree = ast.parse(source, filename)
    aliases = {a.asname: a.name for node in ast.walk(tree)
               if isinstance(node, ast.ImportFrom)
               for a in node.names if a.asname}
    found = [f"{filename}:{node.lineno} global" for node in ast.walk(tree)
             if isinstance(node, ast.Global)]
    found += [f"{filename}:{node.lineno} module state" for node in tree.body
              if isinstance(node, (ast.Assign, ast.AnnAssign))
              and _is_state(node.value, aliases)]
    return sorted(found)


def test_guard_flags_module_state():
    src = (
        "import threading as _t\n"
        "from collections import OrderedDict as _OD\n"
        "_slots: 'dict' = _OD()\n"
        "_orphans: list = []\n"
        "_lock = _t.Lock()\n"
        "_seen = set()\n"
        "TABLE = [1, 2]\n"
        "KEYS = tuple(range(3))\n"
        "def f():\n"
        "    global TABLE\n"
        "    local = []\n")
    assert module_state(src) == [
        "<src>:10 global", "<src>:3 module state", "<src>:4 module state",
        "<src>:5 module state", "<src>:6 module state"]


def test_package_has_no_module_state():
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        found += module_state(path.read_text(), str(path.relative_to(PACKAGE)))
    assert found == []
