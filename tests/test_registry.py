"""Pins the driver-query registry: the key set, the oracle text, and the
shape of ``plans/driver_queries.py`` (one function per key, named by its
key, registered by ``@query``, no function-local imports).

A deliberate oracle edit changes ``ORACLE_MD5``; update it here and list
the edit in CHANGES.md."""

from __future__ import annotations

import ast
import hashlib
import json

import __spark_entry__ as ent
from dane_visual_feature_extraction_worker_spark.plans import driver_queries as dq

N_KEYS, KEYS_MD5 = 345, "6748f3ce5e1080a883e7529e266a0b03"
N_ORACLES, ORACLE_MD5 = 341, "db5d19c1db9f8c6848ad51d556a23542"


def _md5(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()


def _tree() -> ast.Module:
    with open(dq.__file__, encoding="utf-8") as f:
        return ast.parse(f.read())


def test_key_set_fingerprint():
    keys = sorted(ent.queries())
    assert len(keys) == N_KEYS
    assert _md5(json.dumps(keys)) == KEYS_MD5


def test_oracle_fingerprint():
    oracles = ent.oracle_sql()
    assert len(oracles) == N_ORACLES
    assert _md5(json.dumps(oracles, sort_keys=True)) == ORACLE_MD5


def test_every_query_is_named_by_its_key():
    assert [k for k, fn in dq.QUERIES.items() if fn.__name__ != k] == []


def test_no_function_local_imports():
    local = [
        (fn.name, node.lineno)
        for fn in ast.walk(_tree())
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        for node in ast.walk(fn)
        if isinstance(node, (ast.Import, ast.ImportFrom))
    ]
    assert local == []


def test_registration_is_the_decorator_only():
    """``QUERIES`` is bound once, to an empty dict, and filled only by
    ``@query``: no dict literal, ``QUERIES.update`` or subscript store."""
    tree = _tree()
    binds, writes = [], []
    for node in ast.walk(tree):
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name) and t.id == "QUERIES":
                    binds.append(ast.unparse(node.value))
                if (
                    isinstance(t, ast.Subscript)
                    and isinstance(t.value, ast.Name)
                    and t.value.id == "QUERIES"
                ):
                    writes.append(node.lineno)
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "QUERIES"
        ):
            writes.append(node.lineno)
    assert binds == ["{}"]
    # the one subscript store is inside ``query`` itself
    query_fn = next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "query"
    )
    assert writes == [query_fn.body[-2].lineno]
    decorated = {
        n.name
        for n in tree.body
        if isinstance(n, ast.FunctionDef)
        and [ast.unparse(d) for d in n.decorator_list] == ["query"]
    }
    assert decorated == set(dq.QUERIES)
