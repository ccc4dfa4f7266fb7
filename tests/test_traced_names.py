"""Every package attribute the benchmark's tracer wraps exists, so a
refactor that removes or renames one cannot silently break a traced
``perfbench/run.py --trace 1`` run (the tracer looks each one up when
tracing starts).  The names are read from ``perfbench/layers.py``'s
``t.wrap(owner, name, ...)`` calls, with loop variables resolved through
the tuples they iterate (``CONTROL_FNS`` among them)."""

import ast
from pathlib import Path

from .test_tool_signatures import _package_names

LAYERS = Path(__file__).resolve().parents[1] / "perfbench" / "layers.py"


def _strings(node, tuples):
    """The string constants a tuple literal, or a module-level tuple name,
    holds."""
    if isinstance(node, ast.Name):
        node = tuples[node.id]
    return [e.value for e in node.elts]


def _wrapped_names(tree):
    """(owner name, attribute name, line) of every ``*.wrap`` call; a name
    passed as a variable is resolved through the ``for`` loop that binds
    it."""
    tuples = {
        node.targets[0].id: node.value
        for node in tree.body
        if isinstance(node, ast.Assign) and isinstance(node.value, ast.Tuple)
    }
    loop_of = {
        id(call): loop.iter
        for loop in ast.walk(tree)
        if isinstance(loop, ast.For) and isinstance(loop.target, ast.Name)
        for call in ast.walk(loop)
    }
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "wrap"
        ):
            continue
        owner, name = node.args[0], node.args[1]
        names = (
            [name.value] if isinstance(name, ast.Constant) else _strings(loop_of[id(node)], tuples)
        )
        for n in names:
            yield owner.id, n, node.lineno


def test_traced_attributes_exist():
    tree = ast.parse(LAYERS.read_text(), str(LAYERS))
    owners = _package_names(tree)
    wrapped = list(_wrapped_names(tree))
    missing = [
        f"layers.py:{line} {owner}.{name}"
        for owner, name, line in wrapped
        if not callable(getattr(owners[owner], name, None))
    ]
    assert len(wrapped) > 25
    assert "control" in {owner for owner, _, _ in wrapped}
    assert not missing, "\n".join(missing)
