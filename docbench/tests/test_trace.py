"""Tracer installation (no JVM) and a traced smoke run per workload."""

from __future__ import annotations

import json
import os
import pickle
import subprocess
import sys

import pytest

from docbench import harness, trace

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_wrappers_replace_import_time_bindings():
    from etl_ai_assistent_spark import registry
    from etl_ai_assistent_spark.operators import sectionizer
    from etl_ai_assistent_spark.queries import clustering, docx, text_etl

    registry.load_all()
    original = sectionizer.sectionize
    tr = trace.Tracer()
    tr.install()
    try:
        # queries/docx.py bound sectionize at import; the call-time import
        # of cached_substrates reads the clustering module attribute
        assert isinstance(docx.sectionize, trace.Traced)
        assert docx.sectionize is sectionizer.sectionize
        assert isinstance(text_etl.recursive_chunks, trace.Traced)
        assert isinstance(clustering.cached_substrates, trace.Traced)
        assert tr.bindings["operators.sectionizer"] >= 3
        assert all(tr.bindings[layer] > 0 for layer in trace.LAYERS)
        wrapper = docx.sectionize
    finally:
        tr.uninstall()
    assert docx.sectionize is original
    # a UDF closure that captured a wrapper ships the original function
    assert pickle.loads(pickle.dumps(wrapper)) is original


def test_wrong_name_fails_loudly(monkeypatch):
    monkeypatch.setitem(
        trace.LAYERS, "operators.sectionizer",
        ("etl_ai_assistent_spark.operators.sectionizer", ("sectionise",)))
    with pytest.raises(AttributeError):
        trace.Tracer().install()


@pytest.mark.parametrize("workload", sorted(harness.WORKLOADS))
def test_traced_smoke(workload):
    p = subprocess.run(
        [sys.executable, "docbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "2", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0
    m = {k: v["value"] for k, v in res["metrics"].items()}
    calls = {
        "io": m["io.load_calls"], "queries": m["queries.build_s"], "plan": m["plan.s"],
        "python": m["python.bytes_sent"], "store": m["store.calls"],
        "substrate": m["substrate.calls"],
        **{lay: m[f"{lay}.calls"] for lay in trace.OPERATOR_LAYERS},
    }
    for layer in harness.WORKLOADS[workload].layers:
        assert calls[layer] > 0, layer
    assert m["trace.ops"] > 0
    assert 0 <= m["trace.reconcile_err_max"] <= trace.RECONCILE_TOL
