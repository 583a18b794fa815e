"""Scripts import the package of their own checkout, and keep no
measuring code of their own.

A script that puts a fixed absolute path on `sys.path` imports that
checkout's package wherever it is run from, so an A/B run from a
second checkout would silently test the wrong code.

Every query timing goes through `bench.time_query` (or its one run,
`bench.run_once`), and every result hash is `perfbench.measure.value_hash`:
a second copy gives a second number to reconcile.

Every session comes from `session.get_spark`, so library code, tests
and scripts all run with its defaults.
"""

from __future__ import annotations

import ast
import glob
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(glob.glob(os.path.join(ROOT, "scripts", "*.py")))
# measuring functions a script imports (bench, perfbench.measure), never defines
OWNED = {"value_hash", "materialize", "time_query"}


def _absolute_path_inserts(source: str) -> list[int]:
    """Line numbers of `sys.path.insert(i, "<absolute path literal>")`."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if not (isinstance(node, ast.Call) and len(node.args) == 2):
            continue
        f = node.func
        if not (isinstance(f, ast.Attribute) and f.attr == "insert"
                and ast.unparse(f.value) == "sys.path"):
            continue
        arg = node.args[1]
        if (isinstance(arg, ast.Constant) and isinstance(arg.value, str)
                and os.path.isabs(arg.value)):
            lines.append(node.lineno)
    return lines


def test_guard_sees_a_fixed_checkout():
    assert _absolute_path_inserts('import sys\nsys.path.insert(0, "/srv/x")\n') == [2]
    assert _absolute_path_inserts("import sys\nsys.path.insert(0, ROOT)\n") == []


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_script_imports_its_own_checkout(path):
    with open(path) as f:
        assert _absolute_path_inserts(f.read()) == [], path


def _own_measuring(source: str) -> list[str]:
    """Functions of OWNED that the source defines, and the lines where
    it saves a writer set to the noop format (a run timed by hand)."""
    hits = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.FunctionDef) and node.name in OWNED:
            hits.append(f"def {node.name}")
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "save"):
            for sub in ast.walk(node.func.value):
                if (isinstance(sub, ast.Call)
                        and isinstance(sub.func, ast.Attribute)
                        and sub.func.attr == "format"
                        and [ast.unparse(a) for a in sub.args] == ["'noop'"]):
                    hits.append(f"noop save at line {node.lineno}")
    return hits


def test_guard_sees_own_measuring():
    src = (
        "def materialize(df):\n"
        "    df.write.format('noop').mode('overwrite').save()\n"
    )
    assert _own_measuring(src) == ["def materialize", "noop save at line 2"]
    assert _own_measuring("df.write.format('parquet').save(p)\n") == []


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_script_measures_through_bench(path):
    with open(path) as f:
        assert _own_measuring(f.read()) == [], path


def test_registry_has_no_correctness_ranking():
    with open(os.path.join(ROOT, "timeseriesdb_spark", "registry.py")) as f:
        assert "CORRECTNESS_r" not in f.read()


def test_queries_in_registry_order():
    import __spark_entry__
    from timeseriesdb_spark.registry import QUERIES

    assert list(__spark_entry__.queries()) == list(QUERIES)


def test_time_query_in_process(spark):
    # the bench protocol on the test session: no second JVM
    import bench
    from pyspark.sql import SparkSession
    from tests.conftest import SF_DIR
    from timeseriesdb_spark.registry import QUERIES

    s = bench.time_query(QUERIES["q_count"], spark, SF_DIR, runs=1)
    assert set(s) == {"min", "med", "max", "spread", "build"}
    assert 0 < s["build"] <= s["med"]
    assert s["min"] <= s["med"] <= s["max"]
    assert SparkSession.getActiveSession() is spark


# where a session may be built by hand: `get_spark` itself, and the
# driver simulation, which deliberately runs on a vanilla session
BUILDERS = {"timeseriesdb_spark/session.py", "scripts/driver_sim.py"}


def _session_builders(source: str) -> list[int]:
    """Line numbers of `SparkSession.builder`."""
    return [
        node.lineno for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Attribute) and node.attr == "builder"
        and ast.unparse(node.value) == "SparkSession"
    ]


def test_guard_sees_a_session_builder():
    src = "from pyspark.sql import SparkSession\ns = SparkSession.builder.getOrCreate()\n"
    assert _session_builders(src) == [2]
    assert _session_builders("s = get_spark()\n") == []


def test_sessions_come_from_get_spark():
    """Every library and script session takes `get_spark`'s defaults
    (checkpoint manager, codegen cache)."""
    found = {}
    for path in glob.glob(os.path.join(ROOT, "**", "*.py"), recursive=True):
        with open(path) as f:
            lines = _session_builders(f.read())
        if lines:
            found[os.path.relpath(path, ROOT)] = lines
    assert set(found) == BUILDERS, found
