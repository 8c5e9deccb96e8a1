"""Detector configuration.

Mirrors the reference's ``AnomalyzerConf`` + ``validateConf``
(/root/reference/anomalyze.go:14-90) as a validated Python dataclass.
The validated config is compiled into the Spark plan as literals — there is
no per-row configuration.

Deviations from the reference (documented, deliberate):
  * The reference's ``NA = math.SmallestNonzeroFloat64`` sentinel
    (anomalyze.go:10-12) is replaced by ``None``/SQL NULL everywhere.
    ``lower_bound=None`` means "one-sided fence"; a test returning NULL means
    "not applicable / insufficient data" and is skipped by the combiner.
  * ``seed`` is new: the reference uses the unseeded global RNG for its
    permutation tests (govector ``Shuffle``). Under the default hash spec
    (``perm_spec="hash"``) replicate r of a key's permutation is the
    argsort of ``md5(f"{seed}|{key}|{test_id}|{r}|{j}")`` over positions
    j (oracle.perm_matrix), so results are reproducible and the NumPy
    oracle, the Spark kernel and the DuckDB SQL oracle agree bit-for-bit.
  * ``perm_count`` must be at least 0; 0 selects the reference's default
    of 500 (anomalyze.go:77-81), a negative count is rejected.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

SUPPORTED_METHODS = ("magnitude", "diff", "highrank", "lowrank", "fence", "ks", "cdf")
#: anomalyze.go:34 — the code's default is ["magnitude", "ks"]
#: (README.md:31 claims "magnitude and cdf"; the code wins).
DEFAULT_METHODS = ("magnitude", "ks")


@dataclass(frozen=True)
class AnomalyzerConf:
    """Validated detector spec. Frozen: validation happens once, at build."""

    active_size: int = 1
    n_seasons: int = 4  # anomalyze.go:46-48 default
    methods: tuple[str, ...] = DEFAULT_METHODS
    delay: bool = False  # anomalyze.go:50-51 default: emit best-effort probs
    sensitivity: float = 0.1  # anomalyze.go:83-87 default
    upper_bound: float | None = None
    lower_bound: float | None = None  # None == reference's NA: one-sided fence
    perm_count: int = 500  # anomalyze.go:77-81 default
    seed: int = 42  # ours (see module docstring)
    #: permutation stream spec for the Monte-Carlo tests (ours; the
    #: reference uses an unseeded global RNG). "hash" = md5-argsort per
    #: position (SURVEY §2.6.9): engine-portable, value-hash oracle-able
    #: in DuckDB SQL — the correctness-contract default.
    #: "fast" = one md5 per (key, test) seeding a vectorized counter RNG
    #: (NumPy Philox): same determinism and statistical validity, but NOT
    #: reproducible in SQL — use for production scale, not oracles. Batch
    #: kernel CPU per key at the defaults (one ks test, 4-core x86-64
    #: host): ~0.7 ms "hash", ~0.2 ms "fast".
    perm_spec: str = "hash"
    reference_size: int = field(init=False)

    def __post_init__(self) -> None:  # validateConf parity, anomalyze.go:31-90
        methods = tuple(self.methods) if self.methods else DEFAULT_METHODS
        object.__setattr__(self, "methods", methods)
        for m in methods:
            if m not in SUPPORTED_METHODS:
                raise ValueError(f"Unsupported detection method '{m}'")

        n_seasons = self.n_seasons if self.n_seasons != 0 else 4
        object.__setattr__(self, "n_seasons", n_seasons)
        object.__setattr__(self, "reference_size", n_seasons * self.active_size)

        if self.active_size < 1:
            raise ValueError("Active window size must be at least of size 1")
        if self.reference_size < 4:  # anomalyze.go:61-63
            raise ValueError(
                f"The combination of active window ({self.active_size}) and "
                f"nseasons ({n_seasons}) yields a reference window that is too "
                "small for analysis. Please increase one or both."
            )

        if "fence" in methods:  # anomalyze.go:66-74
            if self.upper_bound is None:
                raise ValueError("Fence test requires an UpperBound")
            lb = self.lower_bound
            if lb is not None and self.upper_bound == lb:
                raise ValueError("Fence test included with identical bounds on the fences")
            if lb is not None and self.upper_bound < lb:
                raise ValueError(
                    f"UpperBound ({self.upper_bound}) was lower than the LowerBound ({lb})"
                )

        if self.perm_count < 0:
            raise ValueError(
                f"perm_count must be at least 0, got {self.perm_count} "
                "(0 selects the default of 500)")
        if {"highrank", "lowrank", "ks", "diff"} & set(methods):
            if self.perm_count == 0:  # anomalyze.go:77-81
                object.__setattr__(self, "perm_count", 500)

        if self.perm_spec not in ("hash", "fast"):
            raise ValueError("perm_spec must be 'hash' or 'fast'")

        if "magnitude" in methods and self.sensitivity == 0.0:  # anomalyze.go:83-87
            object.__setattr__(self, "sensitivity", 0.1)

    @property
    def window_size(self) -> int:
        """Total retained points per key: active + reference.

        The reference's ``Update`` truncates state to exactly this
        (anomalyze.go:127-131); ``Push`` never truncates (a growth bug we do
        not reproduce — SURVEY.md §2.6.2). Our spec: state is ALWAYS bounded
        to ``window_size`` and every test (including the whole-vector
        permutation shuffles) sees exactly these points.
        """
        return self.active_size + self.reference_size

    def with_(self, **kw) -> "AnomalyzerConf":
        kw.setdefault("methods", self.methods)
        return replace(self, **kw)


#: Conf of the reference's own end-to-end test (anomalyze_test.go:28-46).
REFERENCE_TEST_CONF = AnomalyzerConf(
    active_size=1,
    n_seasons=4,
    sensitivity=0.1,
    upper_bound=5.0,
    lower_bound=0.0,
    methods=("cdf", "fence", "highrank", "lowrank", "magnitude"),
)
