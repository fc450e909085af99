"""The benchmark's span tracer wraps sheep_spark functions by name
(perfbench/spans.py:WRAPPED) and a traced run requires some of them to
be called (perfbench/workloads.py:EXPECTED_CALLS). A rename or deletion
on the library side must fail here, not inside the benchmark. No Spark
session is needed: the modules are only imported and inspected.

The package's environment knobs are pinned here too, and the package
and its scripts are checked for unused imports, both read from the
source with ``ast``."""

import ast
import importlib
import importlib.util
import os

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


def _load(name):
    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", os.path.join(PERFBENCH, f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _unresolved(qualnames):
    missing = []
    for q in qualnames:
        module, fname = q.split(".")
        mod = importlib.import_module(f"sheep_spark.{module}")
        if not callable(getattr(mod, fname, None)):
            missing.append(q)
    return missing


def test_wrapped_names_resolve_to_callables():
    wrapped = _load("spans").WRAPPED
    names = [f"{m}.{f}" for m, fnames in wrapped.items() for f in fnames]
    assert names and _unresolved(names) == []


def test_expected_calls_resolve_to_callables():
    calls = _load("workloads").EXPECTED_CALLS
    names = sorted({q for qs in calls.values() for q in qs})
    assert names and _unresolved(names) == []


# The environment keys the package may read. A new knob must be added
# here on purpose; a deleted one must leave this set.
ENV_KEYS = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_NO_CSWEEP"}


def _is_environ(node):
    return (isinstance(node, ast.Attribute) and node.attr == "environ"
            and isinstance(node.value, ast.Name) and node.value.id == "os") or (
        isinstance(node, ast.Name) and node.id == "environ")


def _env_key_node(node):
    """The key expression of an environment read, or None: os.environ[k],
    os.environ.get/setdefault/pop(k), os.getenv(k), getenv(k)."""
    if isinstance(node, ast.Subscript) and _is_environ(node.value):
        return node.slice
    if not isinstance(node, ast.Call) or not node.args:
        return None
    f = node.func
    if isinstance(f, ast.Attribute) and f.attr in ("get", "setdefault", "pop") and _is_environ(f.value):
        return node.args[0]
    if (isinstance(f, ast.Attribute) and f.attr == "getenv"
            and isinstance(f.value, ast.Name) and f.value.id == "os") or (
            isinstance(f, ast.Name) and f.id == "getenv"):
        return node.args[0]
    return None


def test_package_env_keys_inventory():
    pkg = os.path.join(os.path.dirname(PERFBENCH), "sheep_spark")
    keys = set()
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path) as f:
                module = ast.parse(f.read(), path)
            for node in ast.walk(module):
                key = _env_key_node(node)
                if key is None:
                    continue
                if isinstance(key, ast.Constant) and isinstance(key.value, str):
                    keys.add(key.value)
                else:
                    keys.add(f"<non-literal key at {fn}:{node.lineno}>")
    assert keys == ENV_KEYS


def _unused_imports(path):
    """``path:line: name`` for each import its scope never reads: a
    module-level import must be read somewhere in the module, a
    function-level one inside that function. Lines marked ``noqa``
    (imports made for their side effects) are skipped."""
    with open(path) as f:
        src = f.read()
    lines = src.splitlines()
    found = []

    def check(scope):
        used = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)}
        stack = list(ast.iter_child_nodes(scope))
        while stack:
            node = stack.pop()
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                check(node)
                continue
            stack.extend(ast.iter_child_nodes(node))
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if getattr(node, "module", None) == "__future__" or "noqa" in lines[node.lineno - 1]:
                continue
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                if name not in used:
                    found.append(f"{os.path.relpath(path)}:{node.lineno}: {name}")

    check(ast.parse(src, path))
    return found


def test_no_unused_imports():
    repo = os.path.dirname(PERFBENCH)
    paths = [os.path.join(repo, f) for f in ("bench.py", "__spark_entry__.py")]
    for sub in ("sheep_spark", "scripts", "tests"):
        for root, _dirs, files in os.walk(os.path.join(repo, sub)):
            paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    assert [u for p in sorted(paths) for u in _unused_imports(p)] == []
