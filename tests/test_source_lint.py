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
    ("operators/similarity.py", "pq_codebook_kmeans"): "trained PQ codebook, the quality reference tests/test_similarity.py holds the seed codebook against",
    ("sources/tables.py", "register_views"): "temp-view SQL surface for Athena-style analyst SQL, exercised only by tests/test_sources.py",
    ("streaming/micro_batch.py", "hour_partitioned_sink"): "no caller; sole user of the module's write_hour_partitioned import, which perfbench/layers.py patches",
    ("streaming/polling.py", "run_polling_loop"): "reference poll loop over BufferedNdjsonWriter (S6), exercised only by tests/test_streaming.py",
}


def _entry_trees() -> list[tuple[str, ast.Module]]:
    """(path, parsed module) of the repo's entry points: bench.py,
    __spark_entry__.py, tools/ and perfbench/."""
    entry = [
        (path, ast.parse(open(path).read(), filename=path))
        for path in (
            os.path.join(REPO, "bench.py"),
            os.path.join(REPO, "__spark_entry__.py"),
        )
    ]
    for sub in ("tools", "perfbench"):
        entry += list(_package_trees(os.path.join(REPO, sub)))
    return entry


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
    refs: dict[str, list[tuple[str, int]]] = {}
    for path, tree in pkg + _entry_trees():
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


#: (module relative to the package, function, parameter) -> why the
#: option stays although no program caller and no test sets it.
#: Frozen under the same rules as UNCONSUMED_ALLOWLIST.
UNSET_OPTION_ALLOWLIST: dict[tuple[str, str, str], str] = {
    ("session.py", "get_spark", "master"): "deployment setting: the Spark master URL of a real cluster; every caller here runs the local default",
}


def _public_functions(tree: ast.Module):
    """(owner name, def) for every public top-level function (owner =
    its own name) and every public method or ``__init__`` of a public
    top-level class (owner = the class name, since a constructor call
    names the class)."""
    for d in tree.body:
        if isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if not d.name.startswith("_"):
                yield d.name, d
        elif isinstance(d, ast.ClassDef) and not d.name.startswith("_"):
            for m in d.body:
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)) and (
                    m.name == "__init__" or not m.name.startswith("_")
                ):
                    yield (d.name if m.name == "__init__" else m.name), m


def _package_options() -> dict[tuple[str, str, str], tuple[str, int | None]]:
    """(module, function, parameter) -> (callee name, positional index
    or None for keyword-only) of every defaulted parameter of a public
    function or method outside ``queries/``. Column-name parameters
    (``*_col``, ``*_cols``) are not options: they name the caller's
    columns."""
    out = {}
    for path, tree in _package_trees():
        rel = os.path.relpath(path, PKG)
        if rel.startswith("queries" + os.sep):
            continue
        for owner, d in _public_functions(tree):
            a = d.args
            pos = a.posonlyargs + a.args
            skip = 1 if pos and pos[0].arg in ("self", "cls") else 0
            named = [
                (p.arg, i - skip)
                for i, p in enumerate(pos)
                if i >= len(pos) - len(a.defaults)
            ] + [
                (p.arg, None)
                for p, dflt in zip(a.kwonlyargs, a.kw_defaults)
                if dflt is not None
            ]
            for name, idx in named:
                if not name.endswith(("_col", "_cols")):
                    out[(rel, d.name, name)] = (owner, idx)
    return out


def _unset_options() -> set[tuple[str, str, str]]:
    """Options that no call in package code, the entry points or the
    tests passes, by keyword or by position. Calls match by callee name
    (``f(...)``, ``x.f(...)``, ``Cls(...)`` for ``__init__``); a call
    with ``*args`` sets every positional option and one with
    ``**kwargs`` sets them all."""
    tests = list(_package_trees(os.path.dirname(os.path.abspath(__file__))))
    calls: dict[str, list[tuple[int, bool, bool, set[str]]]] = {}
    for _path, tree in list(_package_trees()) + _entry_trees() + tests:
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name is None:
                continue
            calls.setdefault(name, []).append(
                (
                    len(node.args),
                    any(isinstance(x, ast.Starred) for x in node.args),
                    any(k.arg is None for k in node.keywords),
                    {k.arg for k in node.keywords if k.arg},
                )
            )

    def is_set(param: str, owner: str, idx: int | None) -> bool:
        return any(
            param in kws or dstar or (idx is not None and (npos > idx or star))
            for npos, star, dstar, kws in calls.get(owner, [])
        )

    return {
        key
        for key, (owner, idx) in _package_options().items()
        if not is_set(key[2], owner, idx)
    }


def test_every_package_option_is_set():
    """A defaulted parameter that no caller sets doubles the
    configurations the oracles and tests would have to cover while
    only the default ever runs. Tests count as setters here — a test
    seam such as ``bucket_cap=8`` forcing the salt split is a real
    use — so an option nobody sets is either a module constant or on
    the frozen allowlist with its reason."""
    found = _unset_options()
    unlisted = sorted(found - set(UNSET_OPTION_ALLOWLIST))
    assert not unlisted, (
        "options that no caller and no test sets — make them module "
        "constants, or list them in UNSET_OPTION_ALLOWLIST with a "
        f"reason: {unlisted}"
    )
    stale = sorted(set(UNSET_OPTION_ALLOWLIST) - found)
    assert not stale, (
        "allowlist entries that now have a setter or no longer exist "
        f"— remove them: {stale}"
    )
