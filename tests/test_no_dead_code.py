"""Guard against dead code coming back: every top-level definition in
prose_spark/ (function, class or module-level name) must be referenced
by at least one other line of some .py file in the repo — the library,
the declared queries, scripts, benchmarks or tests. Dunder names are
exempt. A definition nothing mentions is deleted, not kept "just in
case"."""

import ast
import re
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
_SKIP_DIRS = {"spark-warehouse", "dist", "build", "__pycache__"}


def _repo_py_files():
    for p in ROOT.rglob("*.py"):
        rel = p.relative_to(ROOT).parts
        if any(part.startswith(".") or part in _SKIP_DIRS for part in rel):
            continue
        yield p


def _top_level_names(tree):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            yield node.name, node.lineno
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        yield n.id, node.lineno


def test_every_prose_spark_definition_is_referenced():
    ident = re.compile(r"[A-Za-z_]\w*")
    # name -> lines (path, lineno) that mention it
    seen = defaultdict(set)
    for p in _repo_py_files():
        for i, line in enumerate(p.read_text().splitlines(), 1):
            for name in set(ident.findall(line)):
                seen[name].add((p, i))
    unreferenced = []
    for p in sorted((ROOT / "prose_spark").rglob("*.py")):
        for name, lineno in _top_level_names(ast.parse(p.read_text())):
            if name.startswith("__") and name.endswith("__"):
                continue
            if not seen[name] - {(p, lineno)}:
                unreferenced.append(
                    f"{p.relative_to(ROOT)}:{lineno} {name}")
    assert not unreferenced, (
        "top-level definitions no other line references:\n"
        + "\n".join(unreferenced))
