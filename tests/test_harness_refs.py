"""The bench scripts are not run by the test suite, so a name they use
from ``grabspark.bench_core`` that no longer exists would surface only
when someone runs them.  Scan their source (and the tests') instead."""

import ast
import glob
import os

from grabspark import bench_core

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_core_refs(path):
    """``(line, name)`` for every ``bench_core.<name>`` in ``path``."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    return [
        (node.lineno, node.attr)
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Name)
        and node.value.id == "bench_core"
    ]


def test_bench_core_references_exist():
    paths = sorted(
        glob.glob(os.path.join(REPO, "bench*.py"))
        + glob.glob(os.path.join(REPO, "tests", "*.py"))
    )
    refs = [
        (os.path.relpath(p, REPO), line, name)
        for p in paths
        for line, name in _bench_core_refs(p)
    ]
    scanned = {p for p, _, _ in refs}
    assert "bench.py" in scanned and "bench_image_scaling.py" in scanned
    missing = [r for r in refs if not hasattr(bench_core, r[2])]
    assert not missing, missing
