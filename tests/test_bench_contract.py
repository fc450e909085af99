"""The benchmark's span tracer wraps sheep_spark functions by name
(perfbench/spans.py:WRAPPED) and a traced run requires some of them to
be called (perfbench/workloads.py:EXPECTED_CALLS). A rename or deletion
on the library side must fail here, not inside the benchmark. No Spark
session is needed: the modules are only imported and inspected."""

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
