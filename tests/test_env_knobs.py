"""Lint: the environment variables ``quackspark/`` reads.

A knob stays only while a shipped default, a test, a tool or a deployment
sets it. Every ``os.environ.get``, ``os.environ[...]``, ``os.getenv`` and
``... in os.environ`` in the package must name its variable with a string
literal, and the set of names must equal ``ALLOWED`` exactly: a new knob
needs a line here, and a knob whose read is deleted must lose its line.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "quackspark")

ALLOWED = {
    "SPARK_GRAFT_SF_DIR": "deployment: default fixture directory",
    "SPARK_GRAFT_CPUS": "deployment: cores of the local Spark master",
    "SPARK_GRAFT_DRIVER_MEM": "deployment: driver heap",
    "QUACKSPARK_DERIVED": "=0 turns the derived layout off; tests and tools/scale.py set it",
    "QUACKSPARK_EXACT_SUM": "=decimal selects the documented overflow-safe exact-sum mode",
}


def _is_environ(node) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _env_reads(tree):
    """Yield (lineno, name) per env read; name is None when it is not a
    string literal."""
    for node in ast.walk(tree):
        key = None
        if isinstance(node, ast.Call):
            f = node.func
            if (isinstance(f, ast.Attribute) and f.attr == "get" and _is_environ(f.value)) or (
                isinstance(f, (ast.Attribute, ast.Name))
                and getattr(f, "attr", getattr(f, "id", None)) == "getenv"
            ):
                key = node.args[0] if node.args else None
            else:
                continue
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            key = node.slice
        elif (
            isinstance(node, ast.Compare)
            and any(isinstance(op, (ast.In, ast.NotIn)) for op in node.ops)
            and any(_is_environ(c) for c in node.comparators)
        ):
            key = node.left
        else:
            continue
        literal = isinstance(key, ast.Constant) and isinstance(key.value, str)
        yield node.lineno, key.value if literal else None


def test_env_reads_equal_allow_list():
    names: dict[str, list[str]] = {}
    for root, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            for line, name in _env_reads(tree):
                assert name is not None, f"{rel}:{line}: env read without a literal name"
                names.setdefault(name, []).append(f"{rel}:{line}")
    assert set(names) == set(ALLOWED), {
        "unlisted": {n: names[n] for n in set(names) - set(ALLOWED)},
        "stale": sorted(set(ALLOWED) - set(names)),
    }
