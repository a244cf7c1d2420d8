from __future__ import annotations

import ast
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

from maap_data_pipelines_spark.session import codegen_compiles, last_job_id  # noqa: E402,F401


def _own_nodes(scope):
    """AST nodes of ``scope``, not descending into nested functions."""
    stack = list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        yield node
        stack.extend(ast.iter_child_nodes(node))


def package_scopes():
    """``(path, scope, nodes)`` for the module body and every function of
    each package source file, ``path`` relative to the package, ``scope``
    the function name or ``"<module>"``, ``nodes`` the scope's own AST
    nodes (a nested function is its own scope). Spark-free."""
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "maap_data_pipelines_spark",
    )
    for root, _, files in os.walk(pkg):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, pkg).replace(os.sep, "/")
            with open(path) as f:
                tree = ast.parse(f.read())
            scopes = [tree] + [
                n
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for scope in scopes:
                yield rel, getattr(scope, "name", "<module>"), list(_own_nodes(scope))


@pytest.fixture(scope="session")
def spark():
    from maap_data_pipelines_spark.session import get_spark

    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
