"""The library names the traced benchmark run (``perfbench/traced.py``)
wraps by attribute.  A rename or removal breaks that run, so it must
fail here first."""

import importlib

import pytest

from tumult_core_spark.domains import NumpyFloatDomain
from tumult_core_spark.measurements.interactive import PrivacyAccountant
from tumult_core_spark.measurements.noise import (
    AddDiscreteGaussianNoise,
    AddGaussianNoise,
    AddGeometricNoise,
    AddLaplaceNoise,
)

FUNCTIONS = [
    ("tumult_core_spark.utils.misc", "sanitize_df"),
    ("tumult_core_spark.utils.misc", "freeze_noised_release"),
    ("tumult_core_spark.utils.misc", "materialize"),
    ("tumult_core_spark.extensions.dedup", "minhash_lsh_candidate_pairs"),
    ("tumult_core_spark.extensions.dedup", "dedup_paragraphs"),
    ("tumult_core_spark.extensions.dedup", "decontaminate"),
]


@pytest.mark.parametrize("module, name", FUNCTIONS)
def test_wrapped_function_exists(module, name):
    assert callable(getattr(importlib.import_module(module), name))


@pytest.mark.parametrize(
    "make, param",
    [
        (lambda: AddLaplaceNoise(NumpyFloatDomain(), 2), "scale"),
        (lambda: AddGaussianNoise(NumpyFloatDomain(), 4), "sigma_squared"),
        (lambda: AddGeometricNoise(2), "alpha"),
        (lambda: AddDiscreteGaussianNoise(4), "sigma_squared"),
    ],
    ids=["laplace", "gaussian", "geometric", "discrete_gaussian"],
)
def test_mechanism_surface(make, param):
    """The tracer wraps only methods a class defines itself, and keys
    each mechanism by its noise-parameter attribute."""
    mech = make()
    for method in ("__init__", "add_noise_to_array"):
        assert method in vars(type(mech)), method
    assert hasattr(mech, param)


def test_accountant_methods_exist():
    for method in ("measure", "split"):
        assert method in vars(PrivacyAccountant), method
