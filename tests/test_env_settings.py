"""The package reads only deployment settings from the environment: where
the fixtures live and how large a session to build.  A switch that changes
how queries are built (an A/B kill-switch) would make the same code measure
differently depending on the shell it runs in."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "kcl_akka_stream_spark"

ALLOWED = {"SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_WAREHOUSE"}


def _is_environ(node) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _key(node) -> str:
    return node.value if isinstance(node, ast.Constant) and isinstance(node.value, str) else "<computed key>"


def environment_reads(tree) -> list[str]:
    """Keys read through os.environ.get/[]/in, os.getenv."""
    keys = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if (f.attr in ("get", "pop", "setdefault") and _is_environ(f.value)) or f.attr == "getenv":
                keys.append(_key(node.args[0]) if node.args else "<computed key>")
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            keys.append(_key(node.slice))
        elif isinstance(node, ast.Compare) and any(_is_environ(c) for c in node.comparators):
            keys.append(_key(node.left))
    return keys


def test_package_reads_only_deployment_settings():
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for key in environment_reads(ast.parse(path.read_text(), str(path))):
            found.setdefault(key, []).append(str(path.relative_to(PACKAGE.parent)))
    assert set(found) <= ALLOWED, {k: v for k, v in found.items() if k not in ALLOWED}
    assert found, "the scan found no environment read at all"


def test_scan_sees_every_read_form():
    src = (
        "import os\n"
        "a = os.environ.get('A')\n"
        "b = os.getenv('B', '1')\n"
        "c = os.environ['C']\n"
        "d = 'D' in os.environ\n"
        "e = os.environ.get(name)\n"
    )
    assert sorted(environment_reads(ast.parse(src))) == ["<computed key>", "A", "B", "C", "D"]
