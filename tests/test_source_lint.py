"""Source-level AST lint for PySpark footguns that no runtime oracle
reliably catches.

The r6 minhash episode: ``F.transform(col, lambda s, i=i: ...)`` — the
classic late-binding-capture idiom — is a trap in PySpark, because
higher-order functions decide their SQL-lambda arity from the Python
signature. A two-parameter lambda receives the ARRAY INDEX as its
second argument, silently shadowing the closure default with a
plan-dependent Column. The signature family drifted per plan shape and
only a cross-plan join (d7) exposed it. This lint bans the idiom
structurally: any lambda with a DEFAULTED parameter passed to a Spark
higher-order function is a bug — defaults signal closure-capture
intent, and the HOF will override them. Capture via a factory function
instead (see minhash._perm_hash).
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "group_2_shopware_enterprise_data_engineering_project_spark",
)

# pyspark.sql.functions HOFs that infer SQL-lambda arity from the
# Python signature (1-arg or 2-arg element/index, or 2-arg key/value)
_HOFS = {
    "transform",
    "filter",
    "exists",
    "forall",
    "aggregate",
    "reduce",
    "zip_with",
    "transform_keys",
    "transform_values",
    "map_filter",
    "map_zip_with",
}


def _package_trees():
    """(path, parsed module) for every .py file in the package."""
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as fh:
                    yield path, ast.parse(fh.read(), filename=path)


def _lambda_args_with_defaults(call: ast.Call) -> list[ast.Lambda]:
    out = []
    for arg in list(call.args) + [kw.value for kw in call.keywords]:
        if isinstance(arg, ast.Lambda) and (
            arg.args.defaults or arg.args.kw_defaults
        ):
            out.append(arg)
    return out


def test_no_defaulted_lambda_params_in_spark_hofs():
    offenders = []
    for path, tree in _package_trees():
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            called = (
                fn.attr
                if isinstance(fn, ast.Attribute)
                else fn.id
                if isinstance(fn, ast.Name)
                else None
            )
            if called in _HOFS and _lambda_args_with_defaults(node):
                offenders.append(f"{os.path.relpath(path, PKG)}:{node.lineno}")
    assert not offenders, (
        "defaulted lambda parameter passed to a Spark higher-order "
        "function — the HOF infers SQL-lambda arity from the Python "
        "signature and will OVERRIDE the default with the element/index "
        "Column (the r6 minhash signature bug). Capture closure state "
        f"via a factory function instead. Offenders: {offenders}"
    )


def test_no_unbounded_collect_in_query_modules():
    """No registered query path may materialize an unbounded table on
    the driver (r8 verdict item 3 — the s10 fixture-staging collect).
    Every ``.collect()`` in ``queries/`` must be visibly bounded: a
    global/grouped aggregate (``.agg(`` or an aggregate-only
    ``F.min``/``F.max`` select), an explicit ``.limit(``, a literal
    ``createDataFrame`` frame, or a line carrying a
    ``# bounded-collect:`` justification comment. Anything else is a
    driver-OOM waiting for the 100 TB table."""
    qdir = os.path.join(PKG, "queries")
    bounded_markers = (".agg(", ".limit(", "createDataFrame", "F.min(", "F.max(")
    offenders = []
    for name in sorted(os.listdir(qdir)):
        if not name.endswith(".py"):
            continue
        path = os.path.join(qdir, name)
        with open(path) as fh:
            src = fh.read()
        lines = src.splitlines()
        tree = ast.parse(src, filename=path)
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "collect"
            ):
                continue
            seg = ast.get_source_segment(src, node) or ""
            if any(m in seg for m in bounded_markers):
                continue
            # justification comment anywhere on the call's line span
            # (or the line above, for wrapped expressions)
            lo = max(0, node.lineno - 2)
            hi = (node.end_lineno or node.lineno)
            if any("# bounded-collect:" in ln for ln in lines[lo:hi]):
                continue
            offenders.append(f"queries/{name}:{node.lineno}: {seg[:80]}")
    assert not offenders, (
        "unbounded .collect() in a registered query module — stage via "
        "a distributed write (foreachPartition / .write) or bound it "
        "(.limit + count assert) and tag the line with "
        "'# bounded-collect: <reason>':\n" + "\n".join(offenders)
    )


def test_no_nondeterministic_exprs_in_package_source():
    """Nondeterministic Spark expressions (rand, randn,
    monotonically_increasing_id, uuid) are banned from the package:
    used anywhere near a shuffle key they are a task-retry correctness
    hazard (the r6 skewjoin salt episode — a re-run map routes rows to
    different reducers than the copies already fetched), and the
    engine's determinism discipline (hash-based sampling/salting)
    never needs them. spark_partition_id is allowed ONLY where the
    frame is persisted first (dense_ids documents the contract)."""
    banned = {"rand", "randn", "monotonically_increasing_id", "uuid"}
    offenders = []
    for path, tree in _package_trees():
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = (
                f.attr
                if isinstance(f, ast.Attribute)
                else f.id if isinstance(f, ast.Name) else None
            )
            if name in banned:
                offenders.append(f"{path}:{node.lineno} calls {name}()")
    assert not offenders, (
        "nondeterministic expression in package source (retry-unsafe "
        "in shuffle keys; use a deterministic hash):\n" + "\n".join(offenders)
    )


def test_no_limit_count_in_package_source():
    """``.limit(n).count()`` is banned from the package: whole-stage
    codegen names a LocalLimit's counter after a global id
    (``_limit_counter_<n>``), so the generated source differs on every
    call and each call compiles new classes (4 per call measured),
    bypassing Spark's codegen cache. ``isEmpty()`` and ``take(1)``
    answer the same emptiness question with a plan that repeats
    exactly."""
    offenders = []
    for path, tree in _package_trees():
        for node in ast.walk(tree):
            f = node.func if isinstance(node, ast.Call) else None
            if (
                isinstance(f, ast.Attribute)
                and f.attr == "count"
                and isinstance(f.value, ast.Call)
                and isinstance(f.value.func, ast.Attribute)
                and f.value.func.attr == "limit"
            ):
                offenders.append(f"{os.path.relpath(path, PKG)}:{node.lineno}")
    assert not offenders, (
        ".limit(n).count() recompiles its generated code on every call; "
        "test emptiness with isEmpty() or take(1) instead. Offenders: "
        f"{offenders}"
    )
