"""Workloads: inputs, public registration, ops and output checks.

``wide_release`` and ``corpus_dedup`` are the benchmark's workloads
(``BENCHMARK.json``).

An op is one DP release: build the measurement, charge it through a
``PrivacyAccountant`` and collect the frozen release (in
``corpus_dedup``: one pipeline call and its collection).  ``release``
is the timed part; ``check`` runs outside the timed region.

Exact answers come from the generated Arrow tables with NumPy, never
from Spark, so a library bug cannot agree with itself.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
from dataclasses import dataclass
from fractions import Fraction
from typing import Any, Callable, Dict, List, NamedTuple, Optional, Tuple

import numpy as np
import pyarrow as pa

import data

#: Per-cell false-alarm rate of every noise tail check.
ALARM = 1e-15
#: Relative slack for the library rounding noise scales up to floats.
_ROUND_UP = 1 + 1e-9


# ---------------------------------------------------------------------------
# tail bounds: P(|noise| > t) <= ALARM
# ---------------------------------------------------------------------------


def laplace_tail(b: float) -> float:
    return b * math.log(1 / ALARM) * _ROUND_UP


def geometric_tail(alpha: float) -> float:
    # P(|X| >= k) = 2 p^k / (1 + p) <= 2 exp(-k / alpha)
    return alpha * math.log(2 / ALARM) * _ROUND_UP + 1


def gaussian_tail(sigma2: float) -> float:
    # P(|X| > t) <= 2 exp(-t^2 / (2 sigma^2)); the discrete Gaussian
    # is sub-Gaussian with the same parameter
    return math.sqrt(2 * sigma2 * math.log(2 / ALARM)) * _ROUND_UP + 1


def noise_scale(mechanism: str, sensitivity, budget: Fraction) -> Fraction:
    """The noise parameter the library builds for a statistic of
    ``sensitivity`` at ``budget`` (epsilon for PureDP, rho for zCDP):
    Laplace scale and geometric alpha are ``sensitivity / epsilon``;
    Gaussian sigma^2 is ``sensitivity^2 / (2 rho)``."""
    if mechanism in ("laplace", "geometric"):
        return Fraction(sensitivity) / budget
    return Fraction(sensitivity) ** 2 / (2 * budget)


def noise_tail(mechanism: str, scale) -> float:
    """Tail bound of ``mechanism`` at its noise parameter ``scale``."""
    tail = {"laplace": laplace_tail, "geometric": geometric_tail}.get(
        mechanism, gaussian_tail)
    return tail(float(scale))


# ---------------------------------------------------------------------------
# ops
# ---------------------------------------------------------------------------


@dataclass
class Release:
    """What an op released: the frozen DataFrame (None for scalar
    releases), its collected value, and its size."""

    frozen: Any
    value: Any
    rows: int
    noised_cols: int


@dataclass
class Op:
    name: str
    release: Callable[["Hooks"], Release]
    check: Callable[[Release], Optional[str]]
    recollect: bool = False
    #: runs after the check, outside the timed region
    after: Optional[Callable[[], None]] = None


class Hooks:
    """Phase markers the harness passes into ``release``; the traced
    run records a span per phase, the untraced run does nothing."""

    def phase(self, name: str):
        return contextlib.nullcontext()


def _collect(df) -> pa.Table:
    return df.toArrow()


def same_release(a: Release, b: pa.Table) -> bool:
    """Frozen noise: a second collection equals the first (row order
    aside)."""
    t1, t2 = a.value, b
    keys = [(c, "ascending") for c in t1.column_names]
    return t1.sort_by(keys).equals(t2.sort_by(keys))


def check_dense_grouped(
    table: pa.Table, key_col: str, value_col: str, expected: np.ndarray, tol: float
) -> Optional[str]:
    """Keys 0..len(expected)-1, one row each; every cell within ``tol``."""
    keys = table.column(key_col).to_numpy()
    if len(keys) != len(expected):
        return f"{len(keys)} rows for {len(expected)} public keys"
    order = np.argsort(keys, kind="stable")
    if not np.array_equal(keys[order], np.arange(len(expected))):
        return "release keys differ from the public key domain"
    vals = table.column(value_col).to_numpy()[order].astype(np.float64)
    err = np.abs(vals - expected)
    if not np.all(err <= tol):
        i = int(np.argmax(err))
        return f"{value_col}[{i}] = {vals[i]}, exact {expected[i]}, bound {tol}"
    return None


def check_budget(accountant, expected) -> Optional[str]:
    if accountant.privacy_budget != expected:
        return f"remaining budget {accountant.privacy_budget!r} != {expected!r}"
    return None


def _first_error(*errors: Optional[str]) -> Optional[str]:
    for e in errors:
        if e is not None:
            return e
    return None


def _np(table: pa.Table, col: str) -> np.ndarray:
    arr = table.column(col)
    if pa.types.is_string(arr.type):
        enc = arr.combine_chunks().dictionary_encode()
        return enc.dictionary.to_numpy(zero_copy_only=False).astype(str)[
            enc.indices.to_numpy()]
    return arr.to_numpy()


# ---------------------------------------------------------------------------
# workload base
# ---------------------------------------------------------------------------


class Workload:
    """``generate`` writes inputs (once per run); ``register`` binds
    them to a fresh session (timed as set-up); ``round`` yields the
    next round of ops."""

    name = ""
    sf = 0.1
    #: percentile reported as op_tail_s (see BENCHMARK.json)
    TAIL_PCT = 90
    #: full rounds before the measured phase, timed as set-up
    PRIMING_ROUNDS = 1

    def __init__(self, seed: int, work_dir: str, cores: int):
        self.seed = seed
        self.work_dir = work_dir
        self.cores = cores
        self.spark = None

    def generate(self) -> None:
        raise NotImplementedError

    def register(self, spark) -> None:
        raise NotImplementedError

    def warm_op(self) -> Op:
        raise NotImplementedError

    def round(self) -> List[Op]:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# wide_release
# ---------------------------------------------------------------------------


class Spec(NamedTuple):
    """One ``wide_release`` histogram release."""

    key: str
    #: summed column; None for a count
    col: Optional[str]
    bounds: Optional[Tuple[int, int]]
    budget: str
    mech: str
    #: split child the release goes through; None: the PureDP accountant
    part: Optional[str] = None

    @property
    def scale(self) -> Fraction:
        sens = 1 if self.col is None else max(abs(b) for b in self.bounds)
        return noise_scale(self.mech, sens, Fraction(self.budget))


class WideRelease(Workload):
    """Full-histogram releases on both sides of the small/large release
    threshold: 20k l_partkey keys (every key occupied) and a 600k
    l_orderkey domain (about 75% empty).  PureDP releases go through one
    accountant over all line items; zCDP releases through the children
    of a ``split`` of a second one on the public l_linestatus key."""

    name = "wide_release"
    sf = 0.1
    # the first round after the cold one still runs 15-25% slower
    # (measured); the second is at the steady state
    PRIMING_ROUNDS = 2
    SPLIT_KEYS = ["F", "O"]
    SPLIT_BUDGET = "1/4"

    N_PARTS = int(data.N_PARTS_PER_SF * sf)
    #: public l_orderkey domain: four keys per order, so about 75% empty
    ORDERKEY_DOMAIN = 4 * int(data.N_ORDERS_PER_SF * sf)

    #: One round, in order: three 20k-key releases and two 600k-key
    #: ones, so the median op is a small release rather than the
    #: boundary between the two kinds.  The order is fixed: with two
    #: rounds per run, a seeded order would add its own effect (GC and
    #: JIT state left by the previous op) to the run-to-run spread.
    SPECS = [
        Spec("l_partkey", None, None, "1/2", "geometric"),
        Spec("l_partkey", "l_linenumber", (0, 7), "1/2", "geometric"),
        Spec("l_orderkey", None, None, "1/8", "discrete_gaussian", "F"),
        Spec("l_partkey", "l_quantity", (0, 50), "1/8", "gaussian", "O"),
        Spec("l_orderkey", "l_quantity", (0, 50), "1/2", "laplace"),
    ]

    def generate(self) -> None:
        li = data.make_lineitem(self.seed, self.sf)
        self.paths = data.write_parquet({"lineitem": li}, self.work_dir + "/data")
        self.exact = self.exact_answers(li)

    @classmethod
    def exact_answers(cls, li: pa.Table) -> Dict[tuple, np.ndarray]:
        """``{(key, col, part): dense exact histogram}`` for every spec."""
        pk, ok, ls = _np(li, "l_partkey"), _np(li, "l_orderkey"), _np(li, "l_linestatus")
        cols = {None: None, "l_quantity": _np(li, "l_quantity"),
                "l_linenumber": _np(li, "l_linenumber").astype(np.float64)}
        keys = {"l_partkey": (pk, cls.N_PARTS), "l_orderkey": (ok, cls.ORDERKEY_DOMAIN)}
        exact = {}
        for spec in cls.SPECS:
            key, n = keys[spec.key]
            sel = np.ones(len(key), bool) if spec.part is None else ls == spec.part
            w = cols[spec.col]
            exact[spec.key, spec.col, spec.part] = np.bincount(
                key[sel], None if w is None else w[sel], n).astype(np.float64)
        return exact

    def lane_inputs(self) -> Dict[str, Tuple[Spec, np.ndarray]]:
        """Per mechanism: the first spec of the round that uses it and
        the exact statistic it noises there."""
        out = {}
        for spec in self.SPECS:
            if spec.mech not in out:
                out[spec.mech] = (spec, self.exact[spec.key, spec.col, spec.part])
        return out

    def register(self, spark) -> None:
        from pyspark.sql import functions as F

        from tumult_core_spark.domains import SparkDataFrameDomain
        from tumult_core_spark.measurements.interactive import (
            PrivacyAccountant,
            SequentialComposition,
        )
        from tumult_core_spark.measures import (
            PureDP,
            PureDPBudget,
            RhoZCDP,
            RhoZCDPBudget,
        )
        from tumult_core_spark.metrics import SymmetricDifference

        self.spark = spark
        li = spark.read.parquet(self.paths["lineitem"])
        self.dom = SparkDataFrameDomain.from_spark_schema(li.schema, strict=True)
        # public key domains
        self.key_frames = {
            "l_partkey": spark.range(self.N_PARTS).select(
                F.col("id").alias("l_partkey")),
            "l_orderkey": spark.range(self.ORDERKEY_DOMAIN).select(
                F.col("id").alias("l_orderkey")),
        }
        self.pure_budget = PureDPBudget(10**6)
        self.pure = PrivacyAccountant.launch(
            SequentialComposition(self.dom, SymmetricDifference(), PureDP(), 1,
                                  self.pure_budget), li)
        self.zcdp = PrivacyAccountant.launch(
            SequentialComposition(self.dom, SymmetricDifference(), RhoZCDP(), 1,
                                  RhoZCDPBudget(10**6)), li)

    def op(self, acct, expected_budget, spec: Spec) -> Op:
        from tumult_core_spark.measurements.aggregations import (
            create_count_measurement,
            create_sum_measurement,
        )
        from tumult_core_spark.measures import PureDP, RhoZCDP
        from tumult_core_spark.metrics import SymmetricDifference
        from tumult_core_spark.transformations.groupby import GroupBy

        key, col, bounds, budget, mech = spec[:5]
        zcdp = mech in ("gaussian", "discrete_gaussian")
        measure = RhoZCDP() if zcdp else PureDP()
        value_col = "count" if col is None else "noisy_sum"
        tol = noise_tail(mech, spec.scale)
        expected = self.exact[key, col, spec.part]

        def release(h: Hooks) -> Release:
            with h.phase("construct"):
                gb = GroupBy(acct.input_domain, SymmetricDifference(), zcdp,
                             self.key_frames[key], n_keys=len(expected))
                if col is None:
                    m = create_count_measurement(
                        acct.input_domain, SymmetricDifference(), measure,
                        acct.d_in, budget, groupby_transformation=gb)
                else:
                    m = create_sum_measurement(
                        acct.input_domain, SymmetricDifference(), measure,
                        acct.d_in, budget, measure_column=col, lower=bounds[0],
                        upper=bounds[1], groupby_transformation=gb,
                        sum_column=value_col)
            with h.phase("measure"):
                df = acct.measure(m)
            with h.phase("collect"):
                table = _collect(df)
            return Release(df, table, table.num_rows, 1)

        def check(r: Release):
            return _first_error(
                check_dense_grouped(r.value, key, value_col, expected, tol),
                check_budget(acct, expected_budget),
            )

        return Op(f"{key}_{col or 'count'}_{mech}", release, check, recollect=True)

    def _pure_op(self, spec: Spec) -> Op:
        from tumult_core_spark.exact_number import ExactNumber
        from tumult_core_spark.measures import PureDPBudget

        cost = ExactNumber(spec.budget)
        self.pure_budget = PureDPBudget(self.pure_budget.epsilon - cost)
        return self.op(self.pure, self.pure_budget, spec)

    def _split(self) -> dict:
        """Split the zCDP accountant on l_linestatus; ``{key: child}``."""
        from tumult_core_spark.measures import RhoZCDPBudget
        from tumult_core_spark.metrics import SymmetricDifference
        from tumult_core_spark.transformations.partition import PartitionByKeys

        split_budget = RhoZCDPBudget(self.SPLIT_BUDGET)
        expected_root = self.zcdp.privacy_budget.subtract(split_budget)
        children = self.zcdp.split(
            PartitionByKeys(self.dom, SymmetricDifference(), True, ["l_linestatus"],
                            [(k,) for k in self.SPLIT_KEYS]),
            split_budget,
        )
        if self.zcdp.privacy_budget != expected_root:
            raise AssertionError(
                f"root budget {self.zcdp.privacy_budget!r} != {expected_root!r}")
        return dict(zip(self.SPLIT_KEYS, children))

    def warm_op(self) -> Op:
        return self._pure_op(self.SPECS[1])

    def round(self):
        """The releases of ``SPECS``; the split runs before the first
        zCDP release.  A generator: the split and the retirements run
        between ops."""
        from tumult_core_spark.measures import RhoZCDPBudget

        children = None
        for spec in self.SPECS:
            if spec.part is None:
                yield self._pure_op(spec)
                continue
            if children is None:
                children = self._split()
            spent = RhoZCDPBudget(self.SPLIT_BUDGET).subtract(RhoZCDPBudget(spec.budget))
            yield self.op(children[spec.part], spent, spec)
            children[spec.part].retire()


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


def digest(table: pa.Table) -> str:
    """Order-independent digest of a collected table."""
    keys = [(c, "ascending") for c in table.column_names]
    t = table.sort_by(keys)
    h = hashlib.sha256()
    for c in t.column_names:
        h.update(repr(t.column(c).to_pylist()).encode())
    return h.hexdigest()


def shingles(text: str, k: int = 5) -> set:
    t = text.lower()
    if len(t) < k:
        t = t + " " * (k - len(t))
    return {t[i : i + k] for i in range(len(t) - k + 1)}


class CorpusDedup(Workload):
    """MinHash LSH candidate pairs, corpus-wide paragraph dedup and
    n-gram decontamination over the sf0.1 documents."""

    name = "corpus_dedup"
    sf = 0.1
    HOLDOUT_SHIFT = 5_000_000
    LSH_THRESHOLD = 0.5  # (1 / bands) ** (1 / rows) for 16 bands x 4 rows

    def generate(self) -> None:
        docs = data.make_documents(self.seed, self.sf)
        self.paths = data.write_parquet({"documents": docs}, self.work_dir + "/data")
        self.texts = dict(zip(docs.column("doc_id").to_pylist(),
                              docs.column("text").to_pylist()))
        self.holdout_sources = {
            i for i in self.texts if i % 50 == 0
        }
        self.pinned: Dict[str, str] = {}

    def register(self, spark) -> None:
        from pyspark.sql import functions as F

        self.spark = spark
        self.docs = spark.read.parquet(self.paths["documents"]).repartition(self.cores)
        self.holdout = self.docs.filter(F.col("doc_id") % 50 == 0).withColumn(
            "doc_id", F.col("doc_id") + self.HOLDOUT_SHIFT)

    def _op(self, name, call, independent=None) -> Op:
        def release(h: Hooks) -> Release:
            with h.phase("call"):
                df = call()
            with h.phase("collect"):
                table = _collect(df)
            # no noise: nothing frozen to collect a second time
            return Release(None, table, table.num_rows, 0)

        def check(r: Release):
            d = digest(r.value)
            pinned = self.pinned.setdefault(name, d)
            if d != pinned:
                return f"{name} output digest {d[:12]} != pinned {pinned[:12]}"
            return independent(r.value) if independent else None

        # The dedup functions persist intermediates and leave them to
        # Spark's ContextCleaner, so whether the next call finds them
        # cached depends on when garbage collection ran.  Every call
        # starts from an empty cache instead.
        return Op(name, release, check, after=self.spark.catalog.clearCache)

    def op_minhash(self) -> Op:
        from tumult_core_spark.extensions.dedup import minhash_lsh_candidate_pairs

        return self._op(
            "minhash",
            lambda: minhash_lsh_candidate_pairs(self.docs, "doc_id", "text", 64, 16),
        )

    def op_dedup_paragraphs(self) -> Op:
        from tumult_core_spark.extensions.dedup import dedup_paragraphs

        def independent(t: pa.Table):
            if t.num_rows != len(self.texts):
                return f"{t.num_rows} documents out of {len(self.texts)}"
            return None

        return self._op(
            "dedup_paragraphs",
            lambda: dedup_paragraphs(self.docs, "doc_id", "text", "\n\n"),
            independent,
        )

    def op_decontaminate(self) -> Op:
        from tumult_core_spark.extensions.dedup import decontaminate

        def independent(t: pa.Table):
            # every holdout document is a verbatim copy of its source
            hits = set(zip(t.column("train_id").to_pylist(),
                           t.column("holdout_id").to_pylist()))
            missing = [i for i in self.holdout_sources
                       if (i, i + self.HOLDOUT_SHIFT) not in hits]
            if missing:
                return f"{len(missing)} holdout copies not flagged, e.g. {missing[0]}"
            return None

        return self._op(
            "decontaminate",
            lambda: decontaminate(self.docs, self.holdout, "doc_id", "text",
                                  threshold=0.8),
            independent,
        )

    def pair_precision(self, pairs: pa.Table) -> float:
        """Candidates whose exact 5-shingle Jaccard reaches the LSH
        threshold, over all candidates."""
        cache: Dict[int, set] = {}

        def sh(doc_id):
            if doc_id not in cache:
                cache[doc_id] = shingles(self.texts[doc_id])
            return cache[doc_id]

        good = total = 0
        for a, b in zip(pairs.column("id_a").to_pylist(), pairs.column("id_b").to_pylist()):
            sa, sb = sh(a), sh(b)
            total += 1
            good += len(sa & sb) / len(sa | sb) >= self.LSH_THRESHOLD
        return good / total if total else 0.0

    def warm_op(self) -> Op:
        return self.op_dedup_paragraphs()

    def round(self):
        return [self.op_minhash(), self.op_dedup_paragraphs(), self.op_decontaminate()]


WORKLOADS = {w.name: w for w in (WideRelease, CorpusDedup)}
