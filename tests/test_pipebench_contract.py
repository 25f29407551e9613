"""The benchmark's tracer wraps named attributes of the package; a
rename must fail here, not silently break a traced benchmark run. No
Spark session is started."""

import importlib
import inspect
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tracer_targets_exist(monkeypatch):
    monkeypatch.syspath_prepend(os.path.join(ROOT, "pipebench"))
    tracing = importlib.import_module("tracing")
    targets = tracing._targets()
    assert targets
    for layer, owner, attr in targets:
        assert layer in tracing.LAYERS
        # raises AttributeError on a missing name, as install() would
        inspect.getattr_static(owner, attr)


def test_candidate_pairs_call_site():
    # the traced run counts LSH candidates with
    # canon.candidate_pairs(surfaces, jaccard_threshold=0.0); it is not
    # one of the tracer's targets, so the check above misses it
    from pyrdf2vec_spark import canon

    params = inspect.signature(canon.candidate_pairs).parameters
    assert "jaccard_threshold" in params
