"""Layering pin: the network time-series layers never import the LLM-data
``pipeline`` package.  AST-only, so it runs without Spark."""

from __future__ import annotations

import ast
from pathlib import Path

ENGINE = Path(__file__).resolve().parent.parent / "nntsc_spark"

NETWORK_LAYERS = [
    *(ENGINE / d for d in ("operators", "ingest", "export", "sources", "functions")),
    ENGINE / "storage.py",
    ENGINE / "streaming" / "ingest.py",
    ENGINE / "streaming" / "rollup.py",
]


def _imported_modules(path: Path) -> set[str]:
    """Absolute names of every module ``path`` imports, at any depth."""
    package = path.relative_to(ENGINE.parent).with_suffix("").parts[:-1]
    out = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = package[: len(package) - node.level + 1] if node.level else ()
            mod = ".".join([*base, *([node.module] if node.module else [])])
            out.add(mod)
            out.update(f"{mod}.{a.name}" for a in node.names)
    return out


def test_network_layers_do_not_import_pipeline():
    files = [
        f for p in NETWORK_LAYERS
        for f in (sorted(p.rglob("*.py")) if p.is_dir() else [p])
    ]
    assert len(files) > 20
    offenders = {
        str(f.relative_to(ENGINE)): sorted(
            m for m in _imported_modules(f)
            if m == "nntsc_spark.pipeline" or m.startswith("nntsc_spark.pipeline.")
        )
        for f in files
    }
    assert {f: m for f, m in offenders.items() if m} == {}
