"""Additive noise mechanisms.

``AddLaplaceNoise`` / ``AddGeometricNoise`` / ``AddGaussianNoise`` /
``AddDiscreteGaussianNoise`` each have ONE sampler,
``add_noise_to_array``: a certified vectorized sampler whose output is
exactly the mechanism's law (the integer mechanisms use certified
inversion / rejection in ``samplers.py``; the continuous mechanisms
return the correctly rounded double of the true real-valued sample,
via the double-double samplers in ``exact_sampling.py`` / ``dd.py``).
Calling a mechanism on one value runs that same sampler on a length-1
array.  ``AddNoiseToSeries`` lifts a mechanism over a ``pd.Series`` —
the body of the Arrow-batched pandas UDF used by
:class:`~.spark.AddNoiseToColumn`.

Privacy functions (reference ``measurements/noise_mechanisms.py:38-560``):

* Laplace(b):  ``epsilon = d_in / b`` (PureDP)
* Geometric(alpha): ``epsilon = d_in / alpha`` (PureDP; integer support)
* Gaussian(sigma^2) / DiscreteGaussian(sigma^2): ``rho = d_in^2 /
  (2 sigma^2)`` (RhoZCDP)

A noise parameter of 0 short-circuits to the identity — the
deterministic mode correctness oracles rely on.
"""

from __future__ import annotations

from fractions import Fraction
from functools import cached_property
from typing import Any

import numpy as np
import pandas as pd

from .. import exact_sampling, samplers
from ..base import Measurement
from ..domains import (
    NumpyFloatDomain,
    NumpyIntegerDomain,
    PandasSeriesDomain,
)
from ..exact_number import ExactNumber, ExactNumberInput
from ..measures import Measure, PureDP, RhoZCDP
from ..metrics import AbsoluteDifference


class _NoiseMechanism(Measurement):
    """``value + noise`` over numpy scalars, with the noise parameter
    held exactly (the subclass exposes it as ``scale`` / ``alpha`` /
    ``sigma_squared``).  Subclasses supply the loss formula
    (``_loss``) and the sampler (``add_noise_to_array``)."""

    #: Spark SQL type of a noised value: ``"double"`` or ``"long"``.
    output_type: str

    def __init__(
        self,
        input_domain,
        output_measure: Measure,
        param_name: str,
        param: ExactNumber,
    ):
        if param < 0:
            raise ValueError(f"{param_name} must be >= 0")
        if not isinstance(input_domain, (NumpyIntegerDomain, NumpyFloatDomain)):
            raise ValueError(f"Unsupported domain {input_domain!r}")
        super().__init__(input_domain, AbsoluteDifference(), output_measure)
        self._param_name = param_name
        self._param = param
        # round the sampling parameter UP (reference
        # noise_mechanisms.py:140,280,427): the privacy claim is
        # computed from the exact parameter, so the implemented sampler
        # must never use LESS noise than claimed
        self._param_float = param.to_float(round_up=True)

    @property
    def adds_no_noise(self) -> bool:
        return self._param == 0

    @cached_property
    def _param_fraction(self) -> Fraction:
        """The exact rational parameter the integer samplers take.

        A non-finite parameter (zero-budget noise from
        ``calculate_noise_scale``) stays constructible for composition
        and accounting, but there is no integer distribution with
        infinite scale to sample from, so sampling raises."""
        if not self._param.is_finite:
            raise ValueError(
                f"{type(self).__name__} cannot sample with infinite "
                f"{self._param_name} (a zero budget admits no data-dependent "
                "integer output)"
            )
        if self._param.is_rational:
            return Fraction(self._param.expr.p, self._param.expr.q)
        return Fraction(self._param_float)

    def privacy_function(self, d_in: Any) -> ExactNumber:
        d = ExactNumber(d_in)
        if d < 0:
            raise ValueError("d_in must be >= 0")
        if self._param == 0:
            return ExactNumber(float("inf")) if d > 0 else ExactNumber(0)
        if not self._param.is_finite:
            # infinite scale: the output is data-independent (integer
            # sampling raises, the continuous mechanisms emit +-inf), so
            # the loss is 0 for every d_in -- avoids oo/oo = nan
            return ExactNumber(0)
        return self._loss(d)

    def _loss(self, d: ExactNumber) -> ExactNumber:
        raise NotImplementedError

    def __call__(self, value):
        """One noised value: the vectorized sampler on a length-1 array
        (``np.float64`` for the continuous mechanisms, ``np.int64`` for
        the integer ones)."""
        return self.add_noise_to_array(np.asarray([value]))[0]

    def add_noise_to_array(self, values: np.ndarray) -> np.ndarray:
        """Noise every element of ``values`` independently."""
        raise NotImplementedError


class AddLaplaceNoise(_NoiseMechanism):
    """value + Laplace(scale); epsilon = d_in / scale."""

    output_type = "double"

    def __init__(self, input_domain, scale: ExactNumberInput):
        self.scale = ExactNumber(scale)
        super().__init__(input_domain, PureDP(), "scale", self.scale)

    def _loss(self, d: ExactNumber) -> ExactNumber:
        return d / self.scale

    def add_noise_to_array(self, values: np.ndarray) -> np.ndarray:
        if self.adds_no_noise:
            return values.astype(np.float64)
        return exact_sampling.laplace_exact_vec(
            values.astype(np.float64), self._param_float
        )


class AddGeometricNoise(_NoiseMechanism):
    """value + two-sided geometric(alpha); integer in, integer out."""

    output_type = "long"

    def __init__(self, alpha: ExactNumberInput):
        self.alpha = ExactNumber(alpha)
        super().__init__(NumpyIntegerDomain(), PureDP(), "alpha", self.alpha)

    def _loss(self, d: ExactNumber) -> ExactNumber:
        return d / self.alpha

    def add_noise_to_array(self, values: np.ndarray) -> np.ndarray:
        if self.adds_no_noise:
            return values.astype(np.int64)
        return values.astype(np.int64) + samplers.two_sided_geometric_exact_vec(
            self._param_fraction, len(values)
        )


class AddGaussianNoise(_NoiseMechanism):
    """value + N(0, sigma^2); rho = d_in^2 / (2 sigma^2) (zCDP)."""

    output_type = "double"

    def __init__(self, input_domain, sigma_squared: ExactNumberInput):
        self.sigma_squared = ExactNumber(sigma_squared)
        super().__init__(input_domain, RhoZCDP(), "sigma_squared", self.sigma_squared)

    def _loss(self, d: ExactNumber) -> ExactNumber:
        return d**2 / (self.sigma_squared * 2)

    def add_noise_to_array(self, values: np.ndarray) -> np.ndarray:
        if self.adds_no_noise:
            return values.astype(np.float64)
        return exact_sampling.gaussian_exact_vec(
            values.astype(np.float64), self._param_float
        )


class AddDiscreteGaussianNoise(_NoiseMechanism):
    """value + discrete Gaussian(sigma^2); integer support (zCDP)."""

    output_type = "long"

    def __init__(self, sigma_squared: ExactNumberInput):
        self.sigma_squared = ExactNumber(sigma_squared)
        super().__init__(
            NumpyIntegerDomain(), RhoZCDP(), "sigma_squared", self.sigma_squared
        )

    def _loss(self, d: ExactNumber) -> ExactNumber:
        return d**2 / (self.sigma_squared * 2)

    def add_noise_to_array(self, values: np.ndarray) -> np.ndarray:
        if self.adds_no_noise:
            return values.astype(np.int64)
        return values.astype(np.int64) + samplers.discrete_gaussian_exact_vec(
            self._param_fraction, len(values)
        )


class AddNoiseToSeries(Measurement):
    """Vectorize a noise mechanism over a pandas Series."""

    def __init__(self, noise_mechanism: _NoiseMechanism):
        self.noise_mechanism = noise_mechanism
        elem = noise_mechanism.input_domain
        super().__init__(
            PandasSeriesDomain(elem),
            AbsoluteDifference(),
            noise_mechanism.output_measure,
        )

    def privacy_function(self, d_in: Any) -> Any:
        return self.noise_mechanism.privacy_function(d_in)

    def __call__(self, values: pd.Series) -> pd.Series:
        out = self.noise_mechanism.add_noise_to_array(values.to_numpy())
        return pd.Series(out)
