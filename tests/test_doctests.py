"""Executable docstring examples — parity with the reference CI's
``pytest --doctest-modules`` lane (``/root/reference/.github/workflows/
ci-tests.yml:64``), scoped to the modules whose pure-Python kernels carry
examples (the Spark Column factories need a session and are exercised by
the oracle gate instead)."""
import doctest

import pytest

import zen3geo_spark.functions.geo as geo
import zen3geo_spark.functions.hilbert as hilbert
import zen3geo_spark.functions.zorder as zorder
import zen3geo_spark.operators.dedup as dedup
import zen3geo_spark.operators.multimodal as multimodal


@pytest.mark.parametrize("mod", [geo, zorder, hilbert, dedup, multimodal],
                         ids=lambda m: m.__name__)
def test_module_doctests(mod):
    res = doctest.testmod(mod, verbose=False)
    assert res.attempted > 0, f"{mod.__name__} has no doctest examples"
    assert res.failed == 0
