"""bench.py's samples are seeded: every ``.sample(...)`` call in it,
evaluated twice on one frame, plans the same ``Sample`` seed. A
positional fraction with a ``seed=`` keyword would not: PySpark then
reads the seed from the second positional argument and, finding none,
draws a random one."""

import ast
import re
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent / "bench.py"


def _sample_calls() -> list:
    """bench.py's ``.sample`` calls as source, each on a frame ``df``."""
    calls = []
    for node in ast.walk(ast.parse(BENCH.read_text())):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "sample"
        ):
            node.func.value = ast.Name("df")
            calls.append(ast.unparse(node))
    return calls


def _sample_node(df) -> str:
    plan = df._jdf.queryExecution().analyzed().toString()
    return re.search(r"Sample .*", plan).group(0)


def test_bench_samples_are_seeded(spark):
    calls = _sample_calls()
    assert len(calls) >= 2
    df = spark.range(100)
    for call in calls:
        first, second = (
            _sample_node(eval(call, {"df": df})) for _ in range(2)
        )
        assert first == second, call
