"""The fixpoint driver (operators/fixpoint.py) on tiny frames, and a
source scan that keeps every iterative round loop on it."""

import ast
import logging
import math
import pathlib

import pytest
from pyspark.sql import functions as F

from whitebox_tools_spark.operators.fixpoint import (
    closure,
    fixpoint,
    none_left,
    pointer_reach,
    unchanged,
)

LOGGER = "whitebox_tools_spark.fixpoint"


def _runs(caplog, name):
    """(rounds, converged) of each DEBUG run record for ``name``."""
    return [
        (r.args[1], r.args[2])
        for r in caplog.records
        if r.name == LOGGER and r.levelno == logging.DEBUG and r.args[0] == name
    ]


def _warnings(caplog):
    return [r for r in caplog.records if r.name == LOGGER and r.levelno == logging.WARNING]


def test_pointer_doubling_on_a_chain_converges_in_log_rounds(spark, caplog):
    caplog.set_level(logging.DEBUG, logger=LOGGER)
    n = 20
    # 1 x N chain: i -> i + 1, the last cell a terminal self-loop
    nxt = spark.range(n).select(F.least(F.col("id") + 1, F.lit(n - 1)).alias("nxt"), "id")

    def hop(s):
        t = s.select(F.col("id").alias("mid"), F.col("nxt").alias("n2"))
        return s.join(t, s.nxt == t.mid).select("id", F.col("n2").alias("nxt"))

    out = fixpoint("chain_terminal", nxt, hop, unchanged("id", "nxt"), 40)
    assert sorted(tuple(r) for r in out.select("id", "nxt").collect()) == [
        (i, n - 1) for i in range(n)
    ]
    # ceil(log2 N) doublings reach the terminal; a batch of 2 sees it
    # when two states 2 steps apart agree, at most 3 steps later
    bound = math.ceil(math.log2(n)) + 3
    [(rounds, converged)] = _runs(caplog, "chain_terminal")
    assert converged and rounds <= bound

    succ = nxt.select("id", "nxt", F.when(F.col("id") < n - 1, 1.0).otherwise(0.0).alias("d"))
    start = spark.createDataFrame([(0, 0, 0.0)], "src long, cur long, d double")
    reach = pointer_reach("chain_reach", start, succ, max_steps=2**10, carry="d")
    assert sorted(tuple(r) for r in reach.collect()) == [(0, i, float(i)) for i in range(n)]
    [(rounds, converged)] = _runs(caplog, "chain_reach")
    assert converged and rounds <= bound
    assert not _warnings(caplog)


def test_odd_cap_runs_exactly_max_rounds_steps_and_warns_once(spark, caplog):
    caplog.set_level(logging.DEBUG, logger=LOGGER)
    calls = []

    def grow(s):
        calls.append(1)
        return s.select("id", (F.col("v") + 1).alias("v"))

    init = spark.range(3).select("id", F.lit(0).alias("v"))
    out = fixpoint("never_settles", init, grow, unchanged("id", "v"), 3)
    assert len(calls) == 3
    assert {r.v for r in out.collect()} == {3}
    [warning] = _warnings(caplog)
    assert "never_settles" in warning.getMessage() and "3" in warning.getMessage()
    assert _runs(caplog, "never_settles") == [(3, False)]


def test_closure_equals_python_bfs_on_a_dag(spark):
    dag = [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (5, 6), (4, 7), (2, 7), (6, 7)]
    edges = spark.createDataFrame(dag, "a long, b long")
    seeds = spark.createDataFrame([(0,)], "id long")

    def expand(frontier, known):
        return (
            edges.join(frontier, edges.a == frontier.id)
            .select(F.col("b").alias("id"))
            .distinct()
            .join(known, "id", "left_anti")
        )

    got = {r.id for r in closure("dag_closure", seeds, expand, 10).collect()}
    seen, todo = {0}, [0]
    while todo:
        u = todo.pop()
        for a, b in dag:
            if a == u and b not in seen:
                seen.add(b)
                todo.append(b)
    assert got == seen == {0, 1, 2, 3, 4, 7}


@pytest.mark.parametrize("k_max, steps", [(4, 4), (5, 6)])
def test_unresolved_rows_rule_stops_at_the_first_clear_batch(spark, caplog, k_max, steps):
    # the watershed form: each step resolves one more level; the run must
    # stop at the first batch whose new state has no unresolved row
    caplog.set_level(logging.DEBUG, logger=LOGGER)
    calls = []

    def resolve(s):
        calls.append(1)
        return s.select("id", F.greatest(F.col("k") - 1, F.lit(0)).alias("k"))

    init = spark.range(k_max + 1).select("id", F.col("id").alias("k"))
    out = fixpoint("levels", init, resolve, none_left(F.col("k") > 0), 40)
    assert len(calls) == steps
    assert {r.k for r in out.collect()} == {0}
    assert _runs(caplog, "levels") == [(steps, True)]


# Loops outside operators/fixpoint.py that may run Spark actions or
# checkpoints per pass, keyed by (module, enclosing function).
ALLOWED_LOOPS = {
    ("checkpoint.py", "Pipeline.run"): "one pass per pipeline stage",
    ("operators/anisotropy.py", "max_anisotropy_dev"): "one pass per scale parameter",
    ("operators/ann.py", "ivf_index"): "k-means for a fixed iters parameter",
    ("operators/ann.py", "pq_index"): "k-means for a fixed iters parameter",
    ("operators/cluster.py", "kmeans"): "k-means on the driver, max_iter parameter",
    ("operators/cluster.py", "modified_kmeans"): "k-means on the driver, max_iter parameter",
    ("operators/dps.py", "drainage_preserving_smoothing"): "num_iter parameter passes",
    ("operators/fps.py", "feature_preserving_smoothing"): "num_iter parameter passes",
    ("operators/misc5.py", "fast_almost_gaussian"): "five fixed box-filter passes",
    ("operators/misc6.py", "remove_spurs"): "iterations parameter passes",
    ("operators/radius_join.py", "_knn_join_loop"): "one pass per ring, up to max_shell",
    ("operators/text.py", "bpe_train"): "one merge per n_merges parameter step",
    ("operators/isobasins.py", "isobasins"): "bespoke two-set sweep; caps via warn_cap",
    ("operators/misc2.py", "downslope_index"): "bespoke done/active walk; caps via warn_cap",
}

_ACTIONS = {"count", "collect", "localCheckpoint", "checkpoint_nostats"}


def _runs_action(loop: ast.AST) -> bool:
    for node in ast.walk(loop):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if name not in _ACTIONS:
            continue
        # F.count(...) is an aggregate expression, not an action
        if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name) and f.value.id == "F":
            continue
        return True
    return False


def _action_loops(node: ast.AST, scope: tuple[str, ...] = ()):
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield from _action_loops(child, scope + (child.name,))
            continue
        if isinstance(child, (ast.For, ast.While)) and _runs_action(child):
            yield child.lineno, ".".join(scope)
        yield from _action_loops(child, scope)


def test_round_loops_run_on_the_fixpoint_driver():
    root = pathlib.Path(__file__).resolve().parent.parent / "whitebox_tools_spark"
    found = set()
    stray = []
    for path in sorted(root.rglob("*.py")):
        mod = path.relative_to(root).as_posix()
        if mod == "operators/fixpoint.py":
            continue
        for line, fn in _action_loops(ast.parse(path.read_text())):
            found.add((mod, fn))
            if (mod, fn) not in ALLOWED_LOOPS:
                stray.append(f"{mod}:{line} in {fn}")
    assert not stray, f"round loops outside operators/fixpoint.py: {stray}"
    assert found == set(ALLOWED_LOOPS), f"stale allowlist entries: {set(ALLOWED_LOOPS) - found}"
