"""Every engine definition is reached from a path the program runs.

A pure-AST name closure over the top-level definitions of
``dart_xbrl_crawler_spark/``; no Spark starts.  The roots are the CLI,
the driver contract (``__spark_entry__.py``), ``bench.py``, the
``perfbench/`` scripts, every ``@query`` registration, and the
module-level statements that run at import.  A name reaches every
top-level definition of that name in any module, and an identifier
inside a string literal counts as a name (``bench.py`` embeds code in
strings); docstrings do not.  What the closure leaves unreached must be
on ``KEEP``, each entry with the reason it stays.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "dart_xbrl_crawler_spark"
ROOT_FILES = [
    PKG / "cli.py",
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    *sorted((REPO / "perfbench").glob("*.py")),
]
# module → definitions kept although no root reaches them ("*": all)
KEEP = {
    # test data and the references tests compare the engine against
    "fixtures": "*",
    "oracle": "*",
    # the seen-filter tests' membership probe over stored shards
    "operators.dedup": {"probe_seen"},
    # the input schemas tests and the verify recipe build tables with
    "schemas": {"PAGES", "ROBOTS"},
    # robots.txt → the wildcard rules table apply_robots gates on
    "operators.politeness": {
        "robots_rules_from_txt", "parse_robots_txt", "_rule_to_match",
        "ROBOTS_RULES_WILD_SCHEMA",
    },
    # the MergeTable contract on a real Iceberg catalog (opt-in test)
    "sources.checkpoint": {"IcebergMergeTable", "iceberg_available"},
}
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, *_DEFS)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                out.add(id(first.value))
    return out


def _names(node: ast.AST, docs: set[int]) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
            out.add(n.asname or n.name)
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and id(n) not in docs):
            out.update(_IDENT.findall(n.value))
    return out


def _is_query(fn: ast.AST) -> bool:
    return isinstance(fn, _DEFS) and any(
        isinstance(d, ast.Call)
        and (getattr(d.func, "id", None) or getattr(d.func, "attr", None)) == "query"
        for d in fn.decorator_list
    )


def _targets(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, _DEFS):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        tgts = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        tgts = [stmt.target]
    else:
        return []
    return [n.id for t in tgts for n in ast.walk(t) if isinstance(n, ast.Name)]


def scan() -> tuple[dict[str, set[str]], set[str], set[str]]:
    """→ ({"module.name": names its body references}, the ``@query``
    definitions, names the other roots reference)."""
    defs: dict[str, set[str]] = {}
    queries: set[str] = set()
    roots: set[str] = set()
    for f in ROOT_FILES:
        tree = ast.parse(f.read_text())
        roots |= _names(tree, _docstrings(tree))
    for f in sorted(PKG.rglob("*.py")):
        if f == PKG / "cli.py":
            continue
        tree = ast.parse(f.read_text())
        docs = _docstrings(tree)
        mod = ".".join(f.relative_to(PKG).with_suffix("").parts)
        for stmt in tree.body:
            targets = _targets(stmt)
            names = [n for n in targets if not n.startswith("__")]
            if isinstance(stmt, (ast.Import, ast.ImportFrom)) or (targets and not names):
                continue  # imports and dunders (``__all__``) reference nothing
            if not names:
                roots |= _names(stmt, docs)  # runs at import
            elif _is_query(stmt):
                queries.add(f"{mod}.{stmt.name}")
            for name in names:
                defs[f"{mod}.{name}"] = defs.get(f"{mod}.{name}", set()) | _names(stmt, docs)
    return defs, queries, roots


def unreached(defs: dict[str, set[str]], queries: set[str], roots: set[str]) -> list[str]:
    """The definitions of ``scan()``'s result that no root reaches and
    ``KEEP`` does not hold."""
    by_name: dict[str, list[str]] = {}
    for key in defs:
        by_name.setdefault(key.rsplit(".", 1)[1], []).append(key)
    seen: set[str] = set()
    todo = [*queries, *(k for n in roots for k in by_name.get(n, []))]
    while todo:
        key = todo.pop()
        if key not in seen:
            seen.add(key)
            todo += [k for n in defs[key] for k in by_name.get(n, [])]
    out = []
    for key in sorted(set(defs) - seen):
        mod, name = key.rsplit(".", 1)
        keep = KEEP.get(mod, ())
        if keep != "*" and name not in keep:
            out.append(key)
    return out


def test_every_engine_definition_is_reached():
    defs, queries, roots = scan()
    # the closure is not vacuous: queries register, and a helper only
    # query bodies call is reached through them
    assert len(queries) >= 80 and "plans.catalog._dsum" in defs
    missing = unreached(defs, queries, roots)
    assert "plans.catalog._dsum" not in missing
    assert not missing, (
        "engine definitions that no root reaches (delete them, or wire "
        "them into a path the program runs):\n  " + "\n  ".join(missing)
    )
