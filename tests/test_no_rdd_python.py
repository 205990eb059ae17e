"""Static guard for the one-worker-pool rule (see tests/test_one_pool.py):
no code in the package builds a DataFrame from driver-side rows other
than ``model.rows_to_df``, and none touches RDD-level Python
(``parallelize``, ``.rdd``). Either would start a second
``pyspark.daemon`` pool next to the SQL runners' one, with four more
resident workers, and nothing else would fail."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "extract_cbd_shape_spark"
FORBIDDEN = {"parallelize", "rdd", "createDataFrame"}
# The one place allowed to call createDataFrame, with an Arrow table.
HELPER = (os.path.join(PKG, "model.py"), "rows_to_df")


def _uses(path):
    """(line, name, enclosing top-level function) of each forbidden
    attribute in the file."""
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    for top in tree.body:
        owner = getattr(top, "name", None)
        for node in ast.walk(top):
            if isinstance(node, ast.Attribute) and node.attr in FORBIDDEN:
                yield node.lineno, node.attr, owner


def test_no_rdd_level_python_in_package():
    problems = []
    for root, _dirs, files in os.walk(os.path.join(ROOT, PKG)):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(root, fn), ROOT)
            for line, name, owner in _uses(os.path.join(root, fn)):
                if (rel, owner) == HELPER and name == "createDataFrame":
                    continue
                problems.append(f"{rel}:{line}: .{name}")
    assert not problems, (
        "build driver-side rows with model.rows_to_df:\n"
        + "\n".join(problems))
