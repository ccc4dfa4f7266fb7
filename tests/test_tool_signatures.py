"""Every call a ``tools/*.py`` script makes to an ``open_bus_siri_etl_spark``
function binds against that function's signature, so removing or renaming
a parameter cannot break a bench tool silently (the tools run outside the
test suite)."""

import ast
import importlib
import inspect
from pathlib import Path

TOOLS = Path(__file__).resolve().parents[1] / "tools"
PACKAGE = "open_bus_siri_etl_spark"


def _package_names(tree):
    """Local name -> imported package object, for every package import in
    the file (module-level and function-local alike)."""
    names = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PACKAGE):
            module = importlib.import_module(node.module)
            for a in node.names:
                names[a.asname or a.name] = (
                    getattr(module, a.name)
                    if hasattr(module, a.name)
                    else importlib.import_module(f"{node.module}.{a.name}")
                )
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PACKAGE) and a.asname:
                    names[a.asname] = importlib.import_module(a.name)
    return names


def _target(func, names):
    if isinstance(func, ast.Name):
        return names.get(func.id)
    if isinstance(func, ast.Attribute) and isinstance(func.value, ast.Name):
        owner = names.get(func.value.id)
        if inspect.ismodule(owner):
            return getattr(owner, func.attr)
    return None


def _bind_error(fn, call):
    sig = inspect.signature(fn)
    keywords = [k.arg for k in call.keywords if k.arg is not None]
    if len(keywords) < len(call.keywords) or any(
        isinstance(a, ast.Starred) for a in call.args
    ):
        # splatted arguments: only the explicit keywords can be checked
        if any(p.kind is p.VAR_KEYWORD for p in sig.parameters.values()):
            return None
        unknown = sorted(set(keywords) - set(sig.parameters))
        return f"unknown keywords {unknown}" if unknown else None
    try:
        sig.bind(*call.args, **dict.fromkeys(keywords))
    except TypeError as e:
        return str(e)
    return None


def test_tool_calls_bind_to_package_signatures():
    checked, errors = 0, []
    for path in sorted(TOOLS.glob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        names = _package_names(tree)
        for node in ast.walk(tree):
            fn = _target(node.func, names) if isinstance(node, ast.Call) else None
            if not (inspect.isfunction(fn) or inspect.isclass(fn)):
                continue
            checked += 1
            err = _bind_error(fn, node)
            if err:
                errors.append(f"{path.name}:{node.lineno} {fn.__qualname__}: {err}")
    assert checked > 100
    assert not errors, "\n".join(errors)
