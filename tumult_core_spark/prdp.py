"""Floating-point-safe per-record DP mechanisms.

Parity with the reference's ``utils/prdp.py`` (Arb-based): smooth
transformation mechanisms — sample a Gaussian centered on a monotone
transform ``T(x + offset)`` and release ``T^{-1}(sample) - offset`` —
plus the generalized Gaussian (shape 1/2, via Lambert W) and the
exponential polylogarithmic distribution.  All sampling runs one
progressively-refined certified inverse-CDF loop (reference
``random/inverse_cdf.py:12-47``): draw more uniform bits, evaluate
the inverse CDF over the dyadic p-interval in rigorous ``mpmath.iv``
arithmetic, and stop once every real in the image rounds to one IEEE
double — so released values carry no float-artifact structure.

Reference: ``utils/prdp.py:25-304``.  ``mpmath.iv`` has no Lambert W
or erfinv; both are implemented candidate-then-certify — the scalar
mpmath value is verified (and widened until rigorous) through the
monotone forward map evaluated in interval arithmetic (``w e^w`` for
W, the cancellation-free erf series for erfinv).
"""

from __future__ import annotations

from typing import Callable, Optional

from .exact_sampling import _randbits


def _sample_inverse_cdf(
    inverse_cdf: Callable, step_size: int = 63
) -> float:
    """Draw one float: refine the dyadic p-interval until the interval
    inverse CDF image rounds to a unique double.

    ``inverse_cdf(bits, n, p, iv, mpmath, prec)`` receives the dyadic
    interval ``p = [bits, bits+1]/2^n`` and returns an iv interval, or
    None to request more precision (e.g. p straddles a branch point).
    """
    import mpmath

    iv = mpmath.iv
    n = 0
    bits = 0
    while True:
        bits = (bits << step_size) | _randbits(step_size)
        n += step_size
        if bits == 0 or bits + 1 == (1 << n):
            continue  # p touching 0/1: endpoints are infinite
        old_prec = iv.prec
        try:
            prec = n + 40
            iv.prec = prec
            p = iv.mpf([bits, bits + 1]) / iv.mpf(1 << n)
            v = inverse_cdf(bits, n, p, iv, mpmath, prec)
            if v is not None:
                a, b = float(mpmath.mpf(v.a)), float(mpmath.mpf(v.b))
                if a == b:
                    return a
        finally:
            iv.prec = old_prec


def _transformation_mechanism(x, offset, sigma, fwd, inv) -> float:
    """Shared body: Y ~ N(fwd(x+offset), sigma^2); release inv(Y)-offset."""
    if not sigma > 0:
        raise ValueError("sigma must be > 0")

    def icdf(bits, n, p, iv, mpmath, prec):
        shifted = iv.mpf(x) + iv.mpf(offset)
        u = fwd(shifted, iv)
        g = u + iv.mpf(sigma) * _phi_inv_iv(p, iv, mpmath, prec)
        return inv(g, iv) - iv.mpf(offset)

    return _sample_inverse_cdf(icdf)


def fourth_root_transformation_mechanism(
    x: float, offset: float, sigma: float
) -> float:
    """Gaussian on the fourth-root scale: ``((x+offset)^(1/4) + N(0,
    sigma^2))^4 - offset`` (reference ``utils/prdp.py:25-46``)."""
    if not x + offset >= 0:
        raise ValueError("x + offset must be >= 0 for the fourth-root transform")
    return _transformation_mechanism(
        x, offset, sigma,
        fwd=lambda s, iv: iv.sqrt(iv.sqrt(s)),
        inv=lambda g, iv: (g * g) * (g * g),
    )


def square_root_transformation_mechanism(
    x: float, offset: float, sigma: float
) -> float:
    """Gaussian on the square-root scale (reference ``prdp.py:48-67``)."""
    if not x + offset >= 0:
        raise ValueError("x + offset must be >= 0 for the square-root transform")
    return _transformation_mechanism(
        x, offset, sigma,
        fwd=lambda s, iv: iv.sqrt(s),
        inv=lambda g, iv: g * g,
    )


def log_transformation_mechanism(x: float, offset: float, sigma: float) -> float:
    """Gaussian on the log scale (reference ``prdp.py:69-90``)."""
    if not x + offset > 0:
        raise ValueError("x + offset must be > 0 for the log transform")
    return _transformation_mechanism(
        x, offset, sigma,
        fwd=lambda s, iv: iv.log(s),
        inv=lambda g, iv: iv.exp(g),
    )


def _lambertw_enclosure(z, branch: int, iv, mpmath, prec: int):
    """Certified enclosure of the real Lambert W of the iv interval
    ``z`` on branch 0 (principal) or -1.

    Candidate from scalar ``mpmath.lambertw``, verified through the
    forward map ``f(w) = w e^w`` in interval arithmetic: on branch 0
    (w >= -1) f is increasing, on branch -1 (w <= -1) decreasing, so
    bracketing f at the candidate interval's endpoints brackets W.
    """
    k = 0 if branch == 0 else -1
    with mpmath.workprec(prec + 30):
        mid = (mpmath.mpf(z.a) + mpmath.mpf(z.b)) / 2
        w = mpmath.lambertw(mid, k=k)
        if mpmath.im(w) != 0:
            raise ValueError(f"Lambert W branch {k} is complex at {mid}")
        w = mpmath.re(w)
        eps = mpmath.ldexp(1, -prec - 5) * (abs(w) + 1)
        for _ in range(80):
            wlo, whi = w - eps, w + eps
            f_lo = iv.mpf(wlo) * iv.exp(iv.mpf(wlo))
            f_hi = iv.mpf(whi) * iv.exp(iv.mpf(whi))
            if k == 0:  # f increasing
                ok = f_lo.b <= z.a and f_hi.a >= z.b
            else:  # f decreasing
                ok = f_lo.a >= z.b and f_hi.b <= z.a
            if ok:
                return iv.mpf([wlo, whi])
            eps = eps * 2
    raise RuntimeError("Lambert W enclosure failed to certify")


def square_root_gaussian_mechanism(sigma: float) -> float:
    """Generalized Gaussian with shape parameter 1/2 (density
    proportional to ``exp(-sqrt(|y|/sigma))``), sampled through the
    Lambert-W inverse CDF (reference ``prdp.py:92-157``):

    ``CDF^{-1}(p) = sign(p - 1/2) * sigma * (-W((2 min(p, 1-p) - ...)/e) - 1)^2``
    with the -1 branch on the negative argument.
    """
    if not sigma > 0:
        raise ValueError("sigma must be > 0")

    def icdf(bits, n, p, iv, mpmath, prec):
        half = iv.mpf(1) / iv.mpf(2)
        if not (p.b < half.a or p.a > half.b):
            return None  # straddles the median: refine
        e = iv.exp(iv.mpf(1))
        s = iv.mpf(sigma)
        if p.a > half.b:  # x > 1/2: arg = (2x - 2)/e in (-1/e, 0)
            arg = (iv.mpf(2) * p - iv.mpf(2)) / e
            w = _lambertw_enclosure(arg, -1, iv, mpmath, prec)
            return s * (w + iv.mpf(1)) * (w + iv.mpf(1))
        arg = (-iv.mpf(2) * p) / e  # x < 1/2
        w = _lambertw_enclosure(arg, -1, iv, mpmath, prec)
        return -s * (w + iv.mpf(1)) * (w + iv.mpf(1))

    return _sample_inverse_cdf(icdf)


def _erf_iv(y, iv):
    """Rigorous interval enclosure of erf(y).

    ``mpmath.iv.erf`` (hypergeometric 1F1) fails to converge for
    moderate arguments, so this uses the cancellation-free series

        erf(y) = (2/sqrt(pi)) y e^{-y^2} sum_k (2y^2)^k / (1*3*...*(2k+1))

    whose terms are all positive; the truncation error is enclosed by
    a geometric tail bound once the term ratio 2y^2/(2k+3) < 1/2.
    Everything runs in iv arithmetic, so the result is certified.
    """
    two_y2 = iv.mpf(2) * y * y
    term = iv.mpf(1)
    total = iv.mpf(1)
    k = 0
    tiny = iv.mpf(1) / iv.mpf(1 << (iv.prec + 5))
    while True:
        k += 1
        term = term * two_y2 / iv.mpf(2 * k + 1)
        total = total + term
        ratio = two_y2 / iv.mpf(2 * k + 3)
        if ratio.b < 0.5 and term.b < tiny.a:
            # tail <= term * ratio / (1 - ratio) <= term (since ratio < 1/2)
            total = total + iv.mpf([0, term.b])
            break
        if k > 10000:
            raise RuntimeError("erf series failed to converge")
    return (iv.mpf(2) / iv.sqrt(iv.pi)) * y * iv.exp(-y * y) * total


def _phi_iv(x, iv):
    """Unit-Gaussian CDF over an iv interval via the rigorous erf series."""
    return (iv.mpf(1) + _erf_iv(x / iv.sqrt(iv.mpf(2)), iv)) / iv.mpf(2)


def _phi_inv_iv(p, iv, mpmath, prec: int):
    """Certified unit-Gaussian inverse CDF of the iv interval ``p``:
    sqrt(2) erfinv(2p - 1), with the interval-argument erfinv
    candidate-verified through the erf series (monotonicity)."""
    y = iv.mpf(2) * p - iv.mpf(1)
    with mpmath.workprec(prec + 30):
        mid = (mpmath.mpf(y.a) + mpmath.mpf(y.b)) / 2
        w = mpmath.erfinv(mid)
        eps = mpmath.ldexp(1, -prec - 5) * (abs(w) + 1) + (
            mpmath.mpf(y.b) - mpmath.mpf(y.a)
        )
        for _ in range(80):
            wlo, whi = w - eps, w + eps
            if _erf_iv(iv.mpf(wlo), iv).b <= y.a and _erf_iv(iv.mpf(whi), iv).a >= y.b:
                return iv.sqrt(iv.mpf(2)) * iv.mpf([wlo, whi])
            eps = eps * 2
    raise RuntimeError("interval erfinv failed to certify")


def exponential_polylogarithmic_mechanism(
    d: float, a: float, sigma: float, step_size: int = 63
) -> float:
    """Exponential polylogarithmic distribution (reference
    ``prdp.py:182-304``): symmetric around 0, with
    ``|Y| = sigma exp((2d)^{-1/2} Phi^{-1}[(1-Phi_t) |2p-1| + Phi_t]
    + (2d)^{-1}) - sigma a`` where
    ``Phi_t = Phi((ln(a) - (2d)^{-1}) sqrt(2d))``.
    """
    if not d > 0 or not a > 0 or not sigma > 0:
        raise ValueError("d, a, sigma must all be > 0")

    def icdf(bits, n, p, iv, mpmath, prec):
        half = iv.mpf(1) / iv.mpf(2)
        if not (p.b < half.a or p.a > half.b):
            return None
        two_d = iv.mpf(2) * iv.mpf(d)
        inv_2d = iv.mpf(1) / two_d
        inv_sqrt_2d = iv.mpf(1) / iv.sqrt(two_d)
        s = iv.mpf(sigma)
        phi_t = _phi_iv((iv.log(iv.mpf(a)) - inv_2d) / inv_sqrt_2d, iv)
        if p.a > half.b:
            frac = iv.mpf(2) * p - iv.mpf(1)
            sign = 1
        else:
            frac = iv.mpf(1) - iv.mpf(2) * p
            sign = -1
        inner = (iv.mpf(1) - phi_t) * frac + phi_t
        body = s * iv.exp(inv_sqrt_2d * _phi_inv_iv(inner, iv, mpmath, prec) + inv_2d)
        mag = body - s * iv.mpf(a)
        return mag if sign > 0 else -mag

    return _sample_inverse_cdf(icdf, step_size=step_size)
