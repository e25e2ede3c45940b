"""No engine path that only tests reach.

Every public top-level function and class under
``streaming_data_lake_spark/`` must be a registered query or be used by
code outside ``tests/``: the engine itself, ``tools/``, ``bench.py``,
``perfbench/`` or ``__spark_entry__.py``. A helper that only tests call
is a second shape of an operator that no job runs. The check is
static (``ast``), so it runs no Spark.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = os.path.join(REPO, "streaming_data_lake_spark")
USERS = [ENGINE, "tools", "bench.py", "perfbench", "__spark_entry__.py"]

#: Public symbols kept although nothing outside tests uses them.
ALLOWED = {
    # env-gated Kafka/Avro source: its contract stays pinned until a
    # broker and schema registry are reachable
    ("sources/kafka_avro.py", "confluent_schema_id"): "env-gated Kafka/Avro contract",
    ("sources/kafka_avro.py", "is_confluent_framed"): "env-gated Kafka/Avro contract",
    ("sources/kafka_avro.py", "kafka_avro_stream"): "env-gated Kafka/Avro contract",
    ("streaming/sessionize.py", "sessionize_replay"):
        "entry point of the applyInPandasWithState sessionizer twin",
    ("catalog.py", "check_drift"):
        "the reference's declared-vs-observed schema drift check (catalog docstring)",
}


def _py_files(path: str):
    path = os.path.join(REPO, path)
    if os.path.isfile(path):
        yield path
        return
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d not in ("tests", "__pycache__")]
        yield from (os.path.join(root, f) for f in sorted(files) if f.endswith(".py"))


def _used_names() -> set[str]:
    """Every name a non-test module refers to: ``Name`` ids,
    ``Attribute`` attrs and the imported (pre-alias) names of
    ``ImportFrom``."""
    used: set[str] = set()
    for top in USERS:
        for f in _py_files(top):
            with open(f) as fh:
                tree = ast.parse(fh.read(), f)
            for node in ast.walk(tree):
                if isinstance(node, ast.Name):
                    used.add(node.id)
                elif isinstance(node, ast.Attribute):
                    used.add(node.attr)
                elif isinstance(node, ast.ImportFrom):
                    used.update(a.name for a in node.names)
    return used


def _is_registered(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", []):
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(fn, "id", getattr(fn, "attr", None)) == "register":
            return True
    return False


def _public_defs():
    for f in _py_files(ENGINE):
        with open(f) as fh:
            tree = ast.parse(fh.read(), f)
        for node in tree.body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.name.startswith("_")
                and not _is_registered(node)
            ):
                yield os.path.relpath(f, ENGINE), node


def test_every_public_engine_symbol_has_a_non_test_user():
    used = _used_names()
    unused = [
        f"streaming_data_lake_spark/{rel}:{node.lineno} {node.name}"
        for rel, node in _public_defs()
        if node.name not in used and (rel, node.name) not in ALLOWED
    ]
    assert not unused, (
        "public engine symbols only tests reach (delete them, or give "
        "them a production caller):\n  " + "\n  ".join(unused)
    )


def test_allow_list_names_live_symbols():
    defined = {(rel, node.name) for rel, node in _public_defs()}
    stale = sorted(set(ALLOWED) - defined)
    assert not stale, f"allow-list entries with no such symbol: {stale}"
