"""The driver contract's query registry (__spark_entry__.py), checked without
a Spark session: registration by the ``q_`` prefix, the driver-check order,
the one materialize-then-sort tail and the module-level imports."""

import ast
import json
import os
import re

import __spark_entry__ as e

SRC_PATH = e.__file__
with open(SRC_PATH) as _f:
    SRC = _f.read()
QUERY_SIDE = SRC[:SRC.index("\n# oracles\n")]
TREE = ast.parse(SRC)
Q_DEFS = [n for n in TREE.body if isinstance(n, ast.FunctionDef) and n.name.startswith("q_")]


def test_queries_are_exactly_the_q_functions():
    names = [n.name[2:] for n in Q_DEFS]
    assert len(names) == len(set(names)) == 147
    qs = e.queries()
    assert sorted(qs) == sorted(names)
    assert all(qs[n] is getattr(e, f"q_{n}") for n in names)
    assert set(e.oracle_sql()) >= set(names)


def test_no_function_local_imports_in_queries():
    funcs = Q_DEFS + [n for n in TREE.body if isinstance(n, ast.FunctionDef) and n.name == "entry"]
    local = [(f.name, s.lineno) for f in funcs for s in ast.walk(f)
             if isinstance(s, (ast.Import, ast.ImportFrom))]
    assert local == []


def _root_name(node):
    while not isinstance(node, ast.Name):
        node = node.func if isinstance(node, ast.Call) else node.value
    return node.id


def test_global_sorts_go_through_ordered():
    # Outside _ordered, the only .orderBy( a query body may spell is a
    # Window spec's; a query's global sort is .transform(_ordered, *cols).
    stray = [(f.name, c.lineno) for f in Q_DEFS for c in ast.walk(f)
             if isinstance(c, ast.Call) and isinstance(c.func, ast.Attribute)
             and c.func.attr == "orderBy" and _root_name(c.func.value) != "Window"]
    assert stray == []
    tails = [c for f in Q_DEFS for c in ast.walk(f)
             if isinstance(c, ast.Call) and isinstance(c.func, ast.Attribute)
             and c.func.attr == "transform" and c.args
             and isinstance(c.args[0], ast.Name) and c.args[0].id == "_ordered"]
    assert len(tails) == 52 and all(len(c.args) > 1 for c in tails)
    assert QUERY_SIDE.count("conf.materialize(") == 1


def _write(root, name, names):
    with open(os.path.join(root, name), "w") as f:
        json.dump({n: {"hash_match": True} for n in names}, f)


def test_driver_order_from_correctness_files(tmp_path):
    names = ["a", "b", "c", "d", "e", "f"]
    assert e._driver_order(names, str(tmp_path)) == names
    _write(tmp_path, "CORRECTNESS_r01.json", ["a", "b", "e"])
    _write(tmp_path, "CORRECTNESS_r02.json", ["b"])
    _write(tmp_path, "CORRECTNESS_r10.json", ["e"])
    _write(tmp_path, "CORRECTNESS_FULL_r11.json", ["c", "a", "f"])
    _write(tmp_path, "CORRECTNESS_FULL_r11_ansi.json", ["d"])
    # never listed (c, d, f: FULL files do not count) in the given order,
    # then a (r1), b (r2), e (r10: numeric, not lexical, rounds)
    assert e._driver_order(names, str(tmp_path)) == ["c", "d", "f", "a", "b", "e"]


def test_driver_window_skips_the_last_driver_run():
    # The driver checks the first 50 names; the newest committed driver
    # file (CORRECTNESS_r06.json at the time of writing) must not recur.
    root = os.path.dirname(SRC_PATH)
    newest = max((f for f in os.listdir(root) if re.fullmatch(r"CORRECTNESS_r\d+\.json", f)),
                 key=lambda f: int(f[len("CORRECTNESS_r"):-len(".json")]))
    with open(os.path.join(root, newest)) as f:
        last = set(json.load(f))
    head = list(e.queries())[:50]
    assert len(last) == 50 and not set(head) & last
