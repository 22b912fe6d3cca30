"""Every engine definition is reached from a path the program runs,
every defaulted engine parameter is set by one, every engine parameter
is read, and every engine import is used.

A pure-AST name closure over the top-level definitions of
``dart_xbrl_crawler_spark/``; no Spark starts.  The roots are the CLI,
the driver contract (``__spark_entry__.py``), ``bench.py``, the
``perfbench/`` scripts, every ``@query`` registration, and the
module-level statements that run at import.  A name reaches every
top-level definition of that name in any module, and an identifier
inside a string literal counts as a name (``bench.py`` embeds code in
strings); docstrings do not.  What the closure leaves unreached must be
on ``KEEP``, each entry with the reason it stays.  The parameter rule
and its ``PARAMS_KEEP`` list are described above ``PARAMS_KEEP``, the
read rule above ``PARAMS_UNREAD``.
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


def reached(defs: dict[str, set[str]], queries: set[str], roots: set[str]) -> set[str]:
    """The definitions of ``scan()``'s result that a root reaches."""
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
    return seen


def _kept(mod: str, name: str) -> bool:
    keep = KEEP.get(mod, ())
    return keep == "*" or name in keep


def unreached(defs: dict[str, set[str]], queries: set[str], roots: set[str]) -> list[str]:
    """The definitions of ``scan()``'s result that no root reaches and
    ``KEEP`` does not hold."""
    seen = reached(defs, queries, roots)
    return [key for key in sorted(set(defs) - seen) if not _kept(*key.rsplit(".", 1))]


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


# -- parameters -------------------------------------------------------------
#
# A defaulted parameter is a knob only if something sets it.  It is set
# when a call from a root, or from engine code a root reaches, passes it
# by position or keyword.  Calls match by name; a class call is a call
# of its ``__init__``.  Passing the caller's own defaulted parameter on
# (``f(x=x)``) sets the callee's only if the caller's is set, resolved
# transitively.  Code embedded in a string (``bench.py``'s driver
# script) is scanned as code.  ``**f()`` sets the keys of the dict
# literal ``f`` returns; any other ``*``/``**`` into an engine callee
# fails, so it can never exempt a callee silently.
# Parameters of ``KEEP`` definitions are exempt, and so is
# ``cli.main(argv)``.  Every other defaulted parameter that nothing sets
# must be a constant, or be on PARAMS_KEEP with the reason it stays.
PARAMS_KEEP = {
    # a test sets each to reach a branch that needs web-scale input
    # otherwise: the quota regime
    "operators.politeness.pop_round(exact_rank_max)": "quota regime at test scale",
    # the shuffle anti-join over a confirmed set too big to broadcast
    "operators.dedup.dedup_urls(broadcast_max_rows)": "confirmed-set shuffle join",
    # a fetch width that grows with the selected set
    "operators.politeness.fetch_partitioning(target_rows_per_task)": "fetch width growth",
    "operators.politeness.fetch_width(target_rows_per_task)": "fetch width growth",
    # the frequent-signature guard of the mirror self-join
    "operators.hoststats.mirror_host_pairs(max_hosts_per_sig)": "frequent-sig guard",
    # folding the metrics chains, and GC of old seen-filter images
    "operators.frontier.FrontierStore(metrics_compact_every)": "metrics-chain fold",
    "operators.frontier.FrontierStore(filter_keep_last)": "filter-image GC",
    # a deployment setting of the frontier table: snapshot retention
    "operators.frontier.FrontierStore(expire_keep_last)": "snapshot retention",
    "sources.checkpoint.MergeTable(expire_keep_last)": "snapshot retention",
    # the parsers share one (body, aux) signature and are called only
    # through the _REGISTRY table, whose call passes aux but is not a
    # call by name the scan can match
    "doc_parsers._parse_mini(aux)": "uniform parser signature",
    "doc_parsers._parse_xbrl_xml(aux)": "uniform parser signature",
}
_FNS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _params(fn: ast.AST, method: bool) -> tuple[list[str], set[str]]:
    """(positional parameter names, ``self``/``cls`` dropped; the
    defaulted ones)."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    if method and not any(getattr(d, "id", None) == "staticmethod"
                          for d in fn.decorator_list):
        pos = pos[1:]
    defaulted = set(pos[len(pos) - len(a.defaults):])
    defaulted |= {p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None}
    return pos, defaulted


def _callee(call: ast.Call) -> str | None:
    f = call.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def _dict_keys(fn: ast.AST) -> set[str] | None:
    """The keys of the dict literal every ``return`` of ``fn`` gives."""
    rets = [n.value for n in ast.walk(fn) if isinstance(n, ast.Return)]
    if not rets or not all(isinstance(r, ast.Dict) for r in rets):
        return None
    keys = [k for r in rets for k in r.keys]
    if not all(isinstance(k, ast.Constant) and isinstance(k.value, str) for k in keys):
        return None
    return {k.value for k in keys}


def _embedded(node: ast.AST, docs: set[int]) -> list[ast.AST]:
    """The code that string literals under ``node`` parse as."""
    out = []
    for n in ast.walk(node):
        if isinstance(n, ast.JoinedStr):
            text = "".join(v.value if isinstance(v, ast.Constant) else "_"
                           for v in n.values)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in docs:
            text = n.value
        else:
            continue
        if "(" not in text:
            continue
        try:
            out.append(ast.parse(text))
        except (SyntaxError, ValueError):
            pass
    return out


def unset_params() -> tuple[set[str], list[str], int]:
    """→ (defaulted engine parameters nothing sets, as ``mod.fn(param)``;
    the ``*``/``**`` calls into engine callees that the scan cannot
    resolve; the number of defaulted engine parameters)."""
    defs, queries, roots = scan()
    live = reached(defs, queries, roots)
    funcs: dict[str, list[tuple[str, list[str], set[str]]]] = {}
    dict_fns: dict[str, set[str]] = {}
    checked: set[str] = set()
    # (scope node, caller's defaulted parameter → its key)
    scopes: list[tuple[ast.AST, dict[str, str]]] = []
    trees = []  # every parsed file, alive so the docstring ids stay unique
    docs: set[int] = set()
    for f in ROOT_FILES:
        if PKG not in f.parents:
            tree = ast.parse(f.read_text())
            trees.append(tree)
            docs |= _docstrings(tree)
            scopes.append((tree, {}))
            for n in ast.walk(tree):
                if isinstance(n, _FNS) and (keys := _dict_keys(n)) is not None:
                    dict_fns[n.name] = keys
    for f in sorted(PKG.rglob("*.py")):
        tree = ast.parse(f.read_text())
        trees.append(tree)
        docs |= _docstrings(tree)
        mod = ".".join(f.relative_to(PKG).with_suffix("").parts)
        is_root = f == PKG / "cli.py"
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            names = _targets(stmt) or [None]
            live_stmt = is_root or any(
                n is None or f"{mod}.{n}" in live for n in names)
            if isinstance(stmt, ast.ClassDef):
                members = [(m, f"{stmt.name}.{getattr(m, 'name', '')}", True)
                           for m in stmt.body]
            else:
                members = [(stmt, getattr(stmt, "name", ""), False)]
            for node, qual, method in members:
                if not isinstance(node, _FNS):
                    if live_stmt:
                        scopes.append((node, {}))
                    continue
                pos, dflt = _params(node, method)
                init = method and node.name == "__init__"
                label = f"{mod}.{qual.rsplit('.', 1)[0] if init else qual}"
                keys = {p: f"{label}({p})" for p in dflt}
                call_name = stmt.name if init else node.name
                funcs.setdefault(call_name, []).append((label, pos, dflt))
                if (k := _dict_keys(node)) is not None:
                    dict_fns[node.name] = k
                if not _kept(mod, stmt.name) and f"{mod}.{qual}" != "cli.main":
                    checked |= set(keys.values())
                if live_stmt:
                    scopes.append((node, keys))
    sets: set[str] = set()
    fwd: list[tuple[str, str]] = []
    bad: list[str] = []

    def record(cands, name, value, caller):
        for label, _, dflt in cands:
            if name in dflt:
                key = f"{label}({name})"
                if isinstance(value, ast.Name) and value.id in caller:
                    fwd.append((key, caller[value.id]))
                else:
                    sets.add(key)

    todo = list(scopes)
    while todo:
        node, caller = todo.pop()
        todo += [(t, {}) for t in _embedded(node, docs)]
        for call in ast.walk(node):
            if not isinstance(call, ast.Call) or _callee(call) not in funcs:
                continue
            cands = funcs[_callee(call)]
            for i, arg in enumerate(call.args):
                if isinstance(arg, ast.Starred):
                    bad.append(f"*{ast.unparse(arg.value)} into {_callee(call)}")
                    break
                for c in cands:
                    if i < len(c[1]):
                        record([c], c[1][i], arg, caller)
            for kw in call.keywords:
                if kw.arg is not None:
                    record(cands, kw.arg, kw.value, caller)
                elif isinstance(kw.value, ast.Call) and _callee(kw.value) in dict_fns:
                    for k in dict_fns[_callee(kw.value)]:
                        record(cands, k, None, caller)
                else:
                    bad.append(f"**{ast.unparse(kw.value)} into {_callee(call)}")
    grew = True
    while grew:
        new = {key for key, via in fwd if via in sets} - sets
        sets |= new
        grew = bool(new)
    return checked - sets, bad, len(checked)


def test_every_engine_parameter_is_set_or_constant():
    unset, bad, n_params = unset_params()
    # the scan is not vacuous: perfbench's **self._round_args() and
    # bench.py's embedded driver script both set parameters
    assert n_params >= 80
    assert "operators.frontier.FrontierStore.run_round(salt_buckets)" not in unset
    assert "plans.bench_support.extract_job(limit)" not in unset
    missing = sorted(unset - set(PARAMS_KEEP))
    assert not missing, (
        "defaulted engine parameters that no root sets (make each a "
        "constant, or add it to PARAMS_KEEP with its reason):\n  "
        + "\n  ".join(missing)
    )
    assert not bad, (
        "*/** arguments into engine callees that the scan cannot resolve "
        "(pass the parameters by name):\n  " + "\n  ".join(bad)
    )
    stale = sorted(set(PARAMS_KEEP) - unset)
    assert not stale, "PARAMS_KEEP entries that a caller now sets:\n  " + "\n  ".join(stale)


# Every parameter of an engine function, method, nested function or
# lambda is read (loaded by name) in its body; ``self``/``cls`` are
# exempt.  An unread parameter is dead, unless a caller fixes the
# signature: those are on PARAMS_UNREAD with the reason.
PARAMS_UNREAD = {
    # the parsers share one (body, aux) signature and are called only
    # through the _REGISTRY table
    "doc_parsers._parse_mini(aux)": "uniform parser signature",
    # perfbench/gen.py passes the kernel's arguments by position
    "oracle.extract_facts_rowwise(url)": "positional caller",
    # perfbench/workloads.py's traced bootstrap calls it by position
    "operators.frontier.FrontierStore._commit_insert_metrics(spark)": "positional caller",
    "operators.frontier.FrontierStore._commit_insert_metrics(fresh)": "positional caller",
}


def unread_params() -> tuple[set[str], int]:
    """→ (engine parameters their body never reads, as
    ``mod.qualname(param)``; the number of engine parameters)."""
    unread: set[str] = set()
    n_params = 0

    def visit(node: ast.AST, prefix: str) -> None:
        nonlocal n_params
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, f"{prefix}{child.name}.")
            elif isinstance(child, (*_FNS, ast.Lambda)):
                a = child.args
                params = [p.arg for p in (*a.posonlyargs, *a.args, *a.kwonlyargs,
                                          a.vararg, a.kwarg)
                          if p is not None and p.arg not in ("self", "cls")]
                body = child.body if isinstance(child.body, list) else [child.body]
                loads = {n.id for stmt in body for n in ast.walk(stmt)
                         if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
                name = f"{prefix}{getattr(child, 'name', '<lambda>')}"
                n_params += len(params)
                unread.update(f"{name}({p})" for p in params if p not in loads)
                visit(child, f"{name}.")
            else:
                visit(child, prefix)

    for f in sorted(PKG.rglob("*.py")):
        visit(ast.parse(f.read_text()),
              ".".join(f.relative_to(PKG).with_suffix("").parts) + ".")
    return unread, n_params


def test_every_engine_parameter_is_read():
    unread, n_params = unread_params()
    assert n_params >= 500  # the scan is not vacuous
    missing = sorted(unread - set(PARAMS_UNREAD))
    assert not missing, (
        "engine parameters their body never reads (delete them, or add "
        "them to PARAMS_UNREAD with the reason the signature stays):\n  "
        + "\n  ".join(missing)
    )
    stale = sorted(set(PARAMS_UNREAD) - unread)
    assert not stale, "PARAMS_UNREAD entries now read or gone:\n  " + "\n  ".join(stale)


def test_every_engine_import_is_used():
    """Each name an engine module imports is referenced in it (a name in
    ``__all__`` counts)."""
    unused = []
    for f in sorted(PKG.rglob("*.py")):
        tree = ast.parse(f.read_text())
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for n in ast.walk(tree):
            if (isinstance(n, ast.Assign) and any(getattr(t, "id", None) == "__all__"
                                                   for t in n.targets)):
                used |= {e.value for e in n.value.elts}
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom) and n.module == "__future__":
                continue
            if isinstance(n, (ast.Import, ast.ImportFrom)):
                for a in n.names:
                    name = a.asname or a.name.split(".")[0]
                    if name not in used:
                        unused.append(f"{f.relative_to(REPO)}:{n.lineno} {name}")
    assert not unused, "unused imports in engine modules:\n  " + "\n  ".join(unused)
