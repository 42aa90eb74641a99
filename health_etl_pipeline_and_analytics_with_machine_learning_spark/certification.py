"""The order in which ``__spark_entry__.queries()`` lists the operators.

An external correctness run checks only a prefix of that list, so the
ops whose code or oracle changed since they were last certified come
first, and the rest follow oldest certification first.

An op's fingerprint is a sha1 over its oracle SQL and the AST, with
docstrings stripped, of its function and of every package function,
class or constant it reaches by name. ``CERTIFIED.json`` maps each op to
its fingerprint at its last certification (``scripts/certify.py``
writes it); the ``CORRECTNESS_r*.json`` files hold each run's rows.
"""

from __future__ import annotations

import ast
import functools
import glob
import hashlib
import json
import os
import re

from .operators.registry import REGISTRY

PKG = __name__.rpartition(".")[0]
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER = os.path.join(ROOT, "CERTIFIED.json")
RUNS = os.path.join(ROOT, "CORRECTNESS_r*.json")

_BODIES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _path(root: str, module: str) -> str | None:
    base = os.path.join(root, *module.split("."))
    for p in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(p):
            return p
    return None


def _index(root: str, module: str) -> tuple[dict, dict]:
    p = _path(root, module)
    if p is None:
        return {}, {}
    st = os.stat(p)
    return _parse(root, module, p, st.st_mtime_ns, st.st_size)


@functools.lru_cache(maxsize=None)
def _parse(root: str, module: str, path: str, *_stamp) -> tuple[dict, dict]:
    """``({name: (dumps, reference chains)}, {alias: (module, name or None)})``
    for the top-level definitions and the package imports of one module."""
    with open(path) as f:
        tree = ast.parse(f.read())
    pkg = module if path.endswith("__init__.py") else module.rpartition(".")[0]
    aliases: dict[str, tuple[str, str | None]] = {}
    for n in ast.walk(tree):
        if isinstance(n, _BODIES) and n.body and isinstance(n.body[0], ast.Expr) \
                and isinstance(n.body[0].value, ast.Constant) and isinstance(n.body[0].value.value, str):
            n.body = n.body[1:] or [ast.Pass()]
        if isinstance(n, ast.ImportFrom):
            parts = pkg.split(".")[: len(pkg.split(".")) + 1 - n.level] if n.level else []
            base = ".".join(parts + ([n.module] if n.module else []))
            for a in n.names:
                if base.startswith(PKG):
                    sub = f"{base}.{a.name}"
                    aliases[a.asname or a.name] = (sub, None) if _path(root, sub) else (base, a.name)
        elif isinstance(n, ast.Import):
            for a in n.names:
                if a.name.startswith(PKG):
                    aliases[a.asname or PKG] = (a.name if a.asname else PKG, None)
    defs: dict[str, list] = {}
    for stmt in tree.body:
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [getattr(stmt, "target", None)]
        names = [stmt.name] if isinstance(stmt, _BODIES) else [
            t.id for tgt in targets if tgt is not None for t in ast.walk(tgt) if isinstance(t, ast.Name)
        ]
        for name in names:
            defs.setdefault(name, []).append(stmt)
    return {name: (tuple(ast.dump(s) for s in stmts), _chains(stmts)) for name, stmts in defs.items()}, aliases


def _chains(stmts: list) -> frozenset:
    """Every dotted name (``a``, ``a.b``, ...) the statements mention."""
    out = set()
    for n in (n for s in stmts for n in ast.walk(s)):
        attrs = []
        while isinstance(n, ast.Attribute):
            attrs.append(n.attr)
            n = n.value
        if isinstance(n, ast.Name):
            out.add((n.id, *reversed(attrs)))
    return frozenset(out)


def _resolve(root: str, module: str, chain: tuple) -> tuple[str, str] | None:
    """The (module, top-level name) a dotted name in ``module`` means, if
    it is a package definition."""
    defs, aliases = _index(root, module)
    if chain[0] in defs:
        return module, chain[0]
    if chain[0] not in aliases:
        return None
    target, name = aliases[chain[0]]
    rest = chain[1:] if name is None else (name, *chain[1:])
    while name is None and rest and _path(root, f"{target}.{rest[0]}"):
        target, rest = f"{target}.{rest[0]}", rest[1:]
    return _resolve(root, target, rest) if rest else None


def fingerprint(root: str, module: str, func: str, oracle: str | None) -> str:
    """sha1 of ``oracle`` and of ``module.func`` with everything it
    reaches, read from the source tree under ``root``."""
    seen, todo = set(), [(module, func)]
    while todo:
        key = todo.pop()
        if key not in seen:
            seen.add(key)
            todo += filter(None, (_resolve(root, key[0], c) for c in _index(root, key[0])[0][key[1]][1]))
    dumps = sorted({d for m, name in seen for d in _index(root, m)[0][name][0]})
    return hashlib.sha1("\0".join([oracle or "", *dumps]).encode()).hexdigest()


def certified_rounds() -> dict[str, int]:
    """op -> the newest run whose row certifies it (``hash_match`` true, no ``err``)."""
    out: dict[str, int] = {}
    for f in glob.glob(RUNS):
        rnd = int(re.search(r"r(\d+)\.json$", f).group(1))
        with open(f) as fh:
            for op, row in json.load(fh).items():
                if row.get("hash_match") is True and not row.get("err"):
                    out[op] = max(out.get(op, 0), rnd)
    return out


def correctness_order() -> list[str]:
    """Every registered op: changed since its ledger fingerprint first,
    then oldest certification first, ties by name."""
    with open(LEDGER) as f:
        ledger = json.load(f)
    rounds = certified_rounds()

    def key(name: str) -> tuple:
        rq = REGISTRY[name]
        same = fingerprint(ROOT, rq.fn.__module__, rq.fn.__name__, rq.oracle) == ledger.get(name)
        return same, rounds.get(name, 0), name

    return sorted(REGISTRY, key=key)
