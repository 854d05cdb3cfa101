"""The library has one columnar boundary to Python, Arrow: no module
under ``marker_spark/`` imports pandas or reaches a pandas entry point
(Spark-free; tests may still use pandas as a reference)."""

from __future__ import annotations

import ast
from pathlib import Path

LIBRARY = Path(__file__).resolve().parents[1] / "marker_spark"
PANDAS_NAMES = {"to_pandas", "mapInPandas", "applyInPandas", "pandas_udf"}


def _pandas_uses(tree: ast.AST) -> list[tuple[int, str]]:
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found += [(node.lineno, a.name) for a in node.names if a.name.split(".")[0] == "pandas"]
        elif isinstance(node, ast.ImportFrom):
            if (node.module or "").split(".")[0] == "pandas":
                found.append((node.lineno, f"from {node.module}"))
            found += [(node.lineno, a.name) for a in node.names if a.name in PANDAS_NAMES]
        elif isinstance(node, ast.Attribute) and node.attr in PANDAS_NAMES:
            found.append((node.lineno, node.attr))
        elif isinstance(node, ast.Name) and node.id in PANDAS_NAMES:
            found.append((node.lineno, node.id))
    return found


def test_guard_sees_each_pandas_boundary():
    src = (
        "import pandas as pd\nfrom pandas import Series\nimport pandas.api\n"
        "from pyspark.sql.functions import pandas_udf\n"
        "a.to_pandas()\ndf.mapInPandas(f, s)\ng.applyInPandas(f, s)\nF.pandas_udf('x')\n"
    )
    assert [line for line, _ in _pandas_uses(ast.parse(src))] == [1, 2, 3, 4, 5, 6, 7, 8]
    assert _pandas_uses(ast.parse("import pyarrow\nx.mapInArrow(f, s)\npandas_like = 1\n")) == []


def test_library_has_no_pandas_boundary():
    files = sorted(LIBRARY.rglob("*.py"))
    assert files
    bad = {
        str(p.relative_to(LIBRARY.parent)): uses
        for p in files
        if (uses := _pandas_uses(ast.parse(p.read_text(), filename=str(p))))
    }
    assert not bad, bad
