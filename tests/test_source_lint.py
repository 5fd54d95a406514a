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


def _package_trees(base: str = PKG):
    """(path, parsed module) for every .py file under ``base`` (the
    package by default)."""
    for root, _dirs, files in os.walk(base):
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


REPO = os.path.dirname(PKG)

#: (module relative to the package, top-level name) -> why it stays
#: with no consumer in package code or in the repo's entry points
#: (bench.py, __spark_entry__.py, tools/, perfbench/). Frozen: a new
#: unconsumed public name must be deleted or listed here with a
#: reason, and an entry whose name gains a consumer or goes away must
#: leave the list.
UNCONSUMED_ALLOWLIST: dict[tuple[str, str], str] = {
    ("functions/layout.py", "linear_write"): "single-column layout baseline that tests/test_layout.py compares Z-order against",
    ("functions/partitioning.py", "salted_agg"): "two-phase skewed-key aggregation, exercised only by tests/test_partitioning.py",
    ("operators/similarity.py", "pq_codebook_kmeans"): "trained PQ codebook, exercised only by tests/test_similarity.py",
    ("operators/similarity.py", "pq_encode"): "standalone PQ encoder; pq_topk and ivfpq_topk share its fold (_pq_encode) so each packs the codebook once; exercised only by tests/test_similarity.py",
    ("operators/stats.py", "hll_merge"): "shard-wise HLL register merge, exercised only by tests/test_search_stats.py",
    ("operators/text.py", "fingerprint"): "whole-document md5 key, exercised only by tests/test_dedup.py and tests/test_multimodal.py",
    ("operators/transform.py", "extract_date_from_filename"): "reference filename-date parsing, exercised only by tests/test_transform.py",
    ("operators/transform.py", "extract_partition_keys"): "reference partition-path parsing, exercised only by tests/test_transform.py",
    ("operators/validate.py", "batch_is_valid"): "file-level validity gate, exercised only by tests/test_validate.py",
    ("operators/validate.py", "quarantine_split"): "valid/rejected zone split, exercised only by tests/test_validate.py",
    ("sinks.py", "checked_write"): "expectation-gated write, exercised only by tests/test_validate.py",
    ("sources/tables.py", "load_tables"): "public loader of every testdata table; no caller",
    ("sources/tables.py", "register_views"): "temp-view SQL surface, exercised only by tests/test_sources.py",
    ("streaming/micro_batch.py", "hour_partitioned_sink"): "no caller; sole user of the module's write_hour_partitioned import, which perfbench/layers.py patches",
    ("streaming/polling.py", "run_polling_loop"): "reference poll loop, exercised only by tests/test_streaming.py",
    ("streaming/stateful.py", "running_counts"): "stateful running count, exercised only by tests/test_streaming.py",
}


def _external_aliases(tree: ast.Module) -> set[str]:
    """Names a module binds by importing from outside the package
    (``F``, ``T``, ``np``, ``pd``, ``Window``, ...)."""
    pkg = os.path.basename(PKG)
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] != pkg:
                    out.add(a.asname or a.name.split(".")[0])
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            if (node.module or "").split(".")[0] != pkg:
                out.update(a.asname or a.name for a in node.names)
    return out


def _unconsumed_public_names() -> set[tuple[str, str]]:
    """Top-level public def/class of every non-``queries/`` package
    module that no AST Name/Attribute references, outside its own
    body, in package code or in the repo's entry points. Matching is
    by name, so a same-named symbol elsewhere counts as a use — except
    an attribute of a name imported from outside the package
    (``F.transform`` does not consume a package ``transform``)."""
    pkg = list(_package_trees())
    entry = [
        (path, ast.parse(open(path).read(), filename=path))
        for path in (
            os.path.join(REPO, "bench.py"),
            os.path.join(REPO, "__spark_entry__.py"),
        )
    ]
    for sub in ("tools", "perfbench"):
        entry += list(_package_trees(os.path.join(REPO, sub)))
    refs: dict[str, list[tuple[str, int]]] = {}
    for path, tree in pkg + entry:
        external = _external_aliases(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                refs.setdefault(node.id, []).append((path, node.lineno))
            elif isinstance(node, ast.Attribute) and not (
                isinstance(node.value, ast.Name) and node.value.id in external
            ):
                refs.setdefault(node.attr, []).append((path, node.lineno))
    found = set()
    for path, tree in pkg:
        rel = os.path.relpath(path, PKG)
        if rel.startswith("queries" + os.sep):
            continue
        for d in tree.body:
            if not isinstance(
                d, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or d.name.startswith("_"):
                continue
            if not any(
                not (p == path and d.lineno <= ln <= d.end_lineno)
                for p, ln in refs.get(d.name, [])
            ):
                found.add((rel, d.name))
    return found


def test_every_package_function_has_a_consumer():
    """Public package code must have a consumer: the engine itself, the
    repo entry points, the tools or the benchmark. Tests alone do not
    count — code that only tests reach is a second path to maintain
    with nothing relying on it — so every such name is either deleted
    or on the frozen allowlist with its reason."""
    found = _unconsumed_public_names()
    unlisted = sorted(found - set(UNCONSUMED_ALLOWLIST))
    assert not unlisted, (
        "public package names with no consumer outside tests — delete "
        "them, or list them in UNCONSUMED_ALLOWLIST with a reason: "
        f"{unlisted}"
    )
    stale = sorted(set(UNCONSUMED_ALLOWLIST) - found)
    assert not stale, (
        "allowlist entries that now have a consumer or no longer exist "
        f"— remove them: {stale}"
    )
