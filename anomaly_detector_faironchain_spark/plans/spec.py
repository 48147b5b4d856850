"""Declarative constraint specifications.

Generalizes the reference's two hand-written validation suites
(reference: etl/test.py:60-128, tests/test_etl.py:25-65) into first-class
constraint types. Each constraint compiles to:
  * a per-partition metric (computed in a fused single-pass aggregation
    where possible — see operators/stats.py),
  * a pass/fail verdict row (flag + human description, mirroring the
    reference's rule engine pattern at
    analysis/detectors/rule_based_anomaly_detection.py:30-259), and
  * materialized violation rows for the failing tuples.

Specs are plain frozen dataclasses — serializable, hashable, and free of
any Spark object so a plan can be shipped to executors or persisted in a
lineage manifest.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Constraint:
    """Base class. check_id is stable and unique within a TableSpec."""

    def check_id(self) -> str:
        raise NotImplementedError

    def description(self) -> str:
        raise NotImplementedError


@dataclass(frozen=True)
class NotNull(Constraint):
    """Columns must be non-null (reference: etl/test.py:70-77)."""

    cols: tuple[str, ...]

    def __init__(self, *cols: str):
        object.__setattr__(self, "cols", tuple(cols))

    def check_id(self) -> str:
        return f"not_null({','.join(self.cols)})"

    def description(self) -> str:
        return f"columns {list(self.cols)} must be non-null"


@dataclass(frozen=True)
class Unique(Constraint):
    """Key must be unique and non-null (reference: etl/test.py:64-67).

    mode='exact' (default): the duplicate-detection pass
    (groupBy(key).count() > 1, map-side combined) runs over every
    partition — the only way to CERTIFY uniqueness.

    mode='approx_screen': partitions are screened first with
    approx_count_distinct (HLL sketch, one pass shared with the fused
    stats aggregation) and only suspects — where the approximate distinct
    count falls short of the row count by more than the sketch's error
    margin — get the exact pass. This certifies nothing (an HLL cannot
    distinguish n distinct from n-k duplicates when k < rsd·n) but finds
    BULK duplication at a fraction of the cost; use it for
    monitoring-grade checks on append-only partitions.
    """

    cols: tuple[str, ...]
    mode: str = "exact"  # 'exact' | 'approx_screen'
    rsd: float = 0.02
    rsd_margin: float = 3.0  # suspect if approx < (1 - margin*rsd) * n

    def __init__(
        self,
        *cols: str,
        mode: str = "exact",
        rsd: float = 0.02,
        rsd_margin: float = 3.0,
    ):
        object.__setattr__(self, "cols", tuple(cols))
        object.__setattr__(self, "mode", mode)
        object.__setattr__(self, "rsd", rsd)
        object.__setattr__(self, "rsd_margin", rsd_margin)

    def check_id(self) -> str:
        return f"unique({','.join(self.cols)})"

    def description(self) -> str:
        return f"key {list(self.cols)} must be unique and non-null"


@dataclass(frozen=True)
class ForeignKey(Constraint):
    """Every non-null key must exist in the referenced table
    (reference: etl/test.py:86-97 membership checks)."""

    cols: tuple[str, ...]
    ref_table: str
    ref_cols: tuple[str, ...]

    def check_id(self) -> str:
        return f"fk({','.join(self.cols)})->{self.ref_table}({','.join(self.ref_cols)})"

    def description(self) -> str:
        return (
            f"{list(self.cols)} must reference "
            f"{self.ref_table}({list(self.ref_cols)})"
        )


@dataclass(frozen=True)
class FunctionalDependency(Constraint):
    """Determinant columns must map to exactly ONE dependent value
    (A → B): e.g. a commit hash belongs to exactly one repo. The
    referential complement of ForeignKey — FK proves the key EXISTS in
    the dimension, FD proves the in-table mapping is single-valued
    (reference: etl/test.py:86-97 asserts membership; the one-repo-per-
    commit property it implicitly relied on is this check).

    Null handling: rows with any null determinant column are skipped
    (NotNull's job); null dependent values are ignored when counting
    distinct values (a key mapping to {x, NULL} passes — pair with
    NotNull(dependent) to forbid that)."""

    determinant: tuple[str, ...]
    dependent: str

    def __init__(self, *determinant: str, dependent: str):
        object.__setattr__(self, "determinant", tuple(determinant))
        object.__setattr__(self, "dependent", dependent)

    def check_id(self) -> str:
        return f"fd({','.join(self.determinant)}->{self.dependent})"

    def description(self) -> str:
        return (
            f"{list(self.determinant)} must determine a single "
            f"{self.dependent} value"
        )


@dataclass(frozen=True)
class Regex(Constraint):
    """Non-null values must fully match the pattern (reference:
    etl/preprocess/preprocess_native_transfer.py:50-91 format validators,
    re-expressed as vectorized rlike predicates)."""

    col: str
    pattern: str

    def check_id(self) -> str:
        return f"regex({self.col})"

    def description(self) -> str:
        return f"{self.col} must match /{self.pattern}/"


@dataclass(frozen=True)
class InRange(Constraint):
    """Non-null values must lie in [lo, hi] (reference: etl/test.py:101
    timestamp plausibility)."""

    col: str
    lo: float
    hi: float

    def check_id(self) -> str:
        return f"in_range({self.col})"

    def description(self) -> str:
        return f"{self.col} must be in [{self.lo}, {self.hi}]"


@dataclass(frozen=True)
class InSet(Constraint):
    """Non-null values must belong to the domain (reference:
    etl/test.py:104 token_sid domain check)."""

    col: str
    values: tuple[str, ...]

    def check_id(self) -> str:
        return f"in_set({self.col})"

    def description(self) -> str:
        return f"{self.col} must be one of {sorted(self.values)}"


@dataclass(frozen=True)
class LengthInRange(Constraint):
    """String length bounds (reference: etl/test.py:110-121 amount
    digits/length checks)."""

    col: str
    lo: int
    hi: int

    def check_id(self) -> str:
        return f"length_in_range({self.col})"

    def description(self) -> str:
        return f"length({self.col}) must be in [{self.lo}, {self.hi}]"


@dataclass(frozen=True)
class VectorShape(Constraint):
    """Embedding-column sanity: fixed dimensionality, all-finite
    components, L2 norm within [norm_lo, norm_hi].

    The vector analogue of Regex/LengthInRange for training-data tables:
    catches truncated arrays (a failed batch writer), NaN/Inf components
    (encoder overflow), and zero/exploded vectors — all of which poison
    an ANN index silently if they reach it. Compiles to pure array
    builtins (size / exists / aggregate) inside the fused row pass — no
    UDF, whole-stage codegen. Null vectors are skipped (nullness is
    NotNull's job); a null ELEMENT inside a vector is a violation.
    """

    col: str
    dim: int
    norm_lo: float = 0.0
    norm_hi: float = float("inf")

    def check_id(self) -> str:
        return f"vector_shape({self.col})"

    def description(self) -> str:
        return (
            f"{self.col} must be a finite {self.dim}-dim vector with "
            f"L2 norm in [{self.norm_lo}, {self.norm_hi}]"
        )


@dataclass(frozen=True)
class RowCheck(Constraint):
    """Arbitrary row-level predicate given as a SQL boolean expression;
    rows where it is false (or null) are violations. Generalizes the
    reference's boolean rule engine H1-H6
    (analysis/detectors/rule_based_anomaly_detection.py:53-220).

    Example: RowCheck("sha_invariant", "sha2(content, 256) = content_sha256",
    "content hash must match manifest").
    """

    name: str
    sql_expr: str
    desc: str = ""

    def check_id(self) -> str:
        return f"row_check({self.name})"

    def description(self) -> str:
        return self.desc or f"row predicate {self.name}: {self.sql_expr}"


@dataclass(frozen=True)
class Drift(Constraint):
    """Distribution-drift score of a column vs a reference snapshot.

    method: 'psi' (population stability index over equi-width bins) or
    'ks' (two-sample Kolmogorov-Smirnov from the same histograms).
    Replaces the reference's IsolationForest stage in the validation role
    (analysis/detectors/unsupervised_learning_anomaly_detection.py) with a
    pure-aggregation drift detector; thresholded with robust z / MAD
    scores (operators/scoring.py).
    """

    col: str
    method: str = "psi"  # 'psi' | 'ks'
    bins: int = 32
    lo: float | None = None  # None → taken from the reference snapshot
    hi: float | None = None
    threshold: float = 0.2  # PSI > 0.2 = drifted (industry convention); KS stat
    categorical: bool = False  # histogram over category values, not bins

    def check_id(self) -> str:
        return f"drift_{self.method}({self.col})"

    def description(self) -> str:
        return (
            f"{self.method.upper()} drift of {self.col} vs reference "
            f"must be <= {self.threshold}"
        )


@dataclass(frozen=True)
class MonotonicPerKey(Constraint):
    """Within each key group, `value_col` ordered by `order_col` must be
    non-decreasing (strict=True: strictly increasing). A row violates iff
    some row of the same key with a STRICTLY smaller order value has a
    larger (>=, when strict) value — i.e. the running max over earlier
    order values exceeds this row's value. Ties in `order_col` are
    unordered among themselves by design (RANGE frame), so the check is
    deterministic without a tiebreaker.

    Generalizes the reference's implicit append-order assumptions (daily
    files concatenated in sorted(os.listdir) order,
    etl/run_preprocessing.py:27-44) into an explicit, certifiable check —
    e.g. commit timestamps non-decreasing within a repo, block numbers
    increasing within a chain.

    Scale shape: one keyed window pass (shuffle by key_cols). A mega-key
    funnels through one task — same single-task hazard as any
    partitionBy window; mitigate upstream by whitelisting known mega-keys
    or pre-bucketing the order domain (operators/temporal.py documents
    the identical trade-off for as-of joins). `order_col` must be
    numeric/date for the RANGE frame.

    Null handling: rows with a null key component, null order, or null
    value are skipped (NotNull is the constraint for those).
    """

    key_cols: tuple[str, ...]
    order_col: str = ""
    value_col: str = ""
    strict: bool = False

    def __init__(self, *key_cols: str, order_col: str, value_col: str,
                 strict: bool = False):
        object.__setattr__(self, "key_cols", tuple(key_cols))
        object.__setattr__(self, "order_col", order_col)
        object.__setattr__(self, "value_col", value_col)
        object.__setattr__(self, "strict", strict)

    def check_id(self) -> str:
        op = "increasing" if self.strict else "non_decreasing"
        return (
            f"monotonic_{op}({self.value_col} by {self.order_col} "
            f"per {','.join(self.key_cols)})"
        )

    def description(self) -> str:
        op = "strictly increase" if self.strict else "be non-decreasing"
        return (
            f"{self.value_col} must {op} in {self.order_col} order "
            f"within each {list(self.key_cols)}"
        )


@dataclass(frozen=True)
class CountMatch(Constraint):
    """Cross-table row-count reconciliation: the row count per
    `group_cols` in THIS table must equal the declared count in
    `ref_table` (`ref_group_cols` → `expected_col`). Full-outer
    semantics: a group present in the manifest with no rows, or rows
    with no manifest entry, are violations too (expected/actual treated
    as 0 on the missing side).

    The completeness complement of ForeignKey: FK proves each row's key
    EXISTS in the dimension; CountMatch proves the dataset is WHOLE — no
    partition was dropped or double-loaded (the classic 10^12-file
    ingestion failure a per-row check cannot see).

    Verdict attribution: each group's mismatch is attributed to the
    partition its rows live in (min partition_id over the group — exact
    when groups are partition-local, as with repo groups under repo-hash
    partitioning); manifest-only groups (no rows anywhere) land in the
    dedicated '__missing__' partition row.

    Scale shape: one map-side-combined groupBy over the fact table plus
    one full-outer join against the (dimension-sized) manifest — a
    shuffle join of two group-cardinality frames (Spark cannot broadcast
    a full-outer side).
    """

    group_cols: tuple[str, ...]
    ref_table: str = ""
    ref_group_cols: tuple[str, ...] = ()
    expected_col: str = ""

    def __init__(self, *group_cols: str, ref_table: str,
                 ref_group_cols: tuple[str, ...] | None = None,
                 expected_col: str):
        object.__setattr__(self, "group_cols", tuple(group_cols))
        object.__setattr__(self, "ref_table", ref_table)
        object.__setattr__(
            self, "ref_group_cols",
            tuple(ref_group_cols) if ref_group_cols else tuple(group_cols),
        )
        object.__setattr__(self, "expected_col", expected_col)

    def check_id(self) -> str:
        return (
            f"count_match({','.join(self.group_cols)})->"
            f"{self.ref_table}.{self.expected_col}"
        )

    def description(self) -> str:
        return (
            f"row count per {list(self.group_cols)} must equal "
            f"{self.ref_table}.{self.expected_col}"
        )


@dataclass(frozen=True)
class Benford(Constraint):
    """First-significant-digit distribution of `col` must conform to
    Benford's law within `threshold` mean absolute deviation (Nigrini's
    MAD conformity statistic: mean over digits 1..9 of
    |observed_proportion - log10(1 + 1/d)|; <= 0.006 close conformity,
    0.006-0.012 acceptable, 0.012-0.015 marginal, > 0.015 nonconformity).

    The distribution-level sibling of the reference's whale/amount
    anomaly kernels (analysis/detectors/statistical_anomaly_detection.py)
    — fabricated or mechanically-generated amount columns are the classic
    Benford violator. Zero/null values carry no first digit and are
    skipped.

    Scale shape: digit extraction is a map-side expression (first
    nonzero digit char of the decimal rendering — exact for decimal
    columns, no float-log edge cases), so the whole check is ONE
    map-side-combined groupBy to <= 9 rows per partition plus a
    broadcast of the 9-row expected table.
    """

    col: str
    threshold: float = 0.015
    # digits are extracted from the decimal string rendering; floats are
    # cast through decimal(38, scale) first so both Spark and an ANSI-SQL
    # oracle see identical positional digits (no scientific notation)
    scale: int = 6

    def check_id(self) -> str:
        return f"benford({self.col})"

    def description(self) -> str:
        return (
            f"first-digit distribution of {self.col} must match "
            f"Benford's law (MAD <= {self.threshold})"
        )


@dataclass(frozen=True)
class Freshness(Constraint):
    """max(col) per partition must be within `max_age` of `as_of`
    (same unit as the column — epoch seconds for timestamps, which the
    engine reads via cast-to-double).

    The temporal complement of CountMatch: CountMatch proves declared
    data arrived; Freshness proves data kept arriving — a partition
    whose newest row is older than `max_age` means an upstream feed
    silently stopped (the reference's monthly re-run contract,
    etl/run_preprocessing.py:6-10, assumes exactly this never happens;
    here it is a certified check).

    `as_of` is an explicit caller-supplied reference instant, never
    wall-clock — verdicts are deterministic and reproducible from the
    lineage manifest. A partition with NO non-null values FAILS
    (metric null): data absence is the extreme form of staleness; use
    CountMatch to attribute which groups are missing entirely.

    Scale shape: rides the fused profile pass (ONE extra max()
    aggregate, zero extra scans).
    """

    col: str
    max_age: float = 0.0
    as_of: float = 0.0

    def __init__(self, col: str, *, max_age: float, as_of: float):
        object.__setattr__(self, "col", col)
        object.__setattr__(self, "max_age", float(max_age))
        object.__setattr__(self, "as_of", float(as_of))

    def check_id(self) -> str:
        return f"freshness({self.col})"

    def description(self) -> str:
        return (
            f"max({self.col}) must be within {self.max_age} of "
            f"as_of={self.as_of}"
        )


@dataclass(frozen=True)
class QuantileBounds(Constraint):
    """The q-quantile of `col` (or of length(col) with length=True) per
    partition must lie in [lo, hi] — a distribution contract where
    InRange is a per-row contract. InRange("len", 0, 10**6) passes a
    partition whose p99 silently grew 40×; QuantileBounds("content",
    q=0.99, length=True, hi=...) is the check that catches it (truncated
    files move p50 down; concatenated/binary-blob files move p99 up —
    the two corruption shapes the reference's fixed length assertions,
    etl/test.py:60-128, hand-coded for one table).

    Scale shape: rides the fused profile pass as ONE
    `percentile_approx` aggregate (KLL-sketch-backed in Spark 4.1:
    map-side partial sketches, merge on the partition key — raw rows
    never shuffle, zero extra scans). `accuracy` trades sketch memory
    for rank error (1/accuracy normalized); while a partition holds
    ≤ accuracy values the sketch is exact and returns the order
    statistic at 1-based rank ceil(q·n) — measured on this build, and
    the contract the small-scale DuckDB oracle states. At production
    accuracy keep [lo, hi] at least ~3·n/accuracy ranks away from the
    decision point, same discipline as CardinalityBounds' rsd note.

    A partition with no non-null values passes vacuously (metric null
    — NotNull/CountMatch own absence, matching CardinalityBounds'
    ratio-form convention).
    """

    col: str
    q: float = 0.99
    lo: float | None = None
    hi: float | None = None
    length: bool = False  # check length(col) instead of col itself
    accuracy: int = 10_000

    def check_id(self) -> str:
        target = f"length({self.col})" if self.length else self.col
        return f"quantile({target},q={self.q})"

    def description(self) -> str:
        target = f"length({self.col})" if self.length else self.col
        lo = "-inf" if self.lo is None else self.lo
        hi = "inf" if self.hi is None else self.hi
        return f"p{self.q} of {target} must be in [{lo}, {hi}]"


@dataclass(frozen=True)
class Correlation(Constraint):
    """Pearson corr(col_a, col_b) per partition must lie in [lo, hi].

    The cross-column structural check no per-column profile can see: two
    columns that should co-move (file size vs line count, fee vs gas
    used) losing their correlation is a strong silent-corruption signal
    — a writer that shuffles one column's values within a partition
    keeps every per-column statistic identical; only the JOINT
    distribution notices. Negative bounds certify expected
    anti-correlation the same way.

    Scale shape: rides the fused profile pass — corr() is an algebraic
    aggregate (co-moments map-side combine like sums), so the check
    costs zero extra scans at any table size.

    A partition where correlation is UNDEFINED (fewer than 2 paired
    non-null values, or zero variance in either column — Spark returns
    NaN/null) passes vacuously by default; set allow_undefined=False to
    fail those partitions (e.g. when constant-fill is itself the feared
    corruption — though CardinalityBounds attributes that more directly).
    """

    col_a: str
    col_b: str
    lo: float = -1.0
    hi: float = 1.0
    allow_undefined: bool = True

    def check_id(self) -> str:
        return f"corr({self.col_a},{self.col_b})"

    def description(self) -> str:
        return (
            f"corr({self.col_a}, {self.col_b}) must be in "
            f"[{self.lo}, {self.hi}]"
        )


@dataclass(frozen=True)
class CardinalityBounds(Constraint):
    """distinct({col}) / non-null-count({col}) per partition must lie in
    [lo_ratio, hi_ratio].

    Catches the two silent corpus corruptions a per-row check cannot
    see: constant-fill (a defaulted column — ratio collapses toward 0)
    and key explosion (a fanned-out join wrote near-unique values into
    a low-cardinality column — ratio climbs toward 1). The
    distribution-level sibling of Unique: Unique certifies ratio == 1
    on a key; this bounds the ratio on a NON-key column.

    Absolute form: when `lo_abs`/`hi_abs` are set the bound applies to
    the distinct COUNT itself instead of the ratio — the
    scale-invariant shape for enum-like columns (a ratio bound on an
    enum inflates as partitions shrink; "distinct(lang) <= 8" holds at
    15 rows and at 10^9). Unlike InSet it needs no domain list — only
    a cardinality budget ("user_agent must stay under 10k values").

    mode='approx' (default): the HLL estimate joins the fused profile
    pass — zero extra scans; the estimate carries the sketch's relative
    error (rsd), so keep bounds at least ~3*rsd away from the decision
    point. mode='exact': one extra two-level aggregation
    (groupBy(partition, col) map-side combined, then count per
    partition — raw rows never shuffle, no Expand).

    A partition with no non-null values passes vacuously in ratio form
    (NotNull owns absence); in absolute form its distinct count is 0,
    judged against lo_abs like any other value.
    """

    col: str
    lo_ratio: float = 0.0
    hi_ratio: float = 1.0
    mode: str = "approx"  # 'approx' | 'exact'
    rsd: float = 0.02
    lo_abs: int | None = None  # either abs bound set → absolute form
    hi_abs: int | None = None

    def is_absolute(self) -> bool:
        return self.lo_abs is not None or self.hi_abs is not None

    def check_id(self) -> str:
        return f"cardinality({self.col})"

    def description(self) -> str:
        if self.is_absolute():
            lo = 0 if self.lo_abs is None else self.lo_abs
            hi = "inf" if self.hi_abs is None else self.hi_abs
            return (
                f"distinct-count of {self.col} must be in "
                f"[{lo}, {hi}] ({self.mode})"
            )
        return (
            f"distinct-ratio of {self.col} must be in "
            f"[{self.lo_ratio}, {self.hi_ratio}] ({self.mode})"
        )


@dataclass(frozen=True)
class DistributionOutlier(Constraint):
    """Each partition's distribution of `col` must stay within `psi_max`
    PSI of the run's own FLEET-WIDE distribution (the sum of every
    partition's histogram). No reference snapshot, no threshold
    re-tuning as the corpus grows — the run is its own control.

    The full-distribution sibling of ProfileOutlier: ProfileOutlier
    flags a partition whose scalar profile metric (mean, null rate,
    row count) disagrees with its siblings; this flags a partition
    whose SHAPE disagrees — a feed that started writing truncated
    files keeps the mean plausible while the histogram collapses into
    two buckets, and a per-column scalar never sees it. And unlike
    Drift (which needs last run's persisted histogram and catches
    run-over-run change), this catches intra-run divergence: one
    partition loaded from a bad writer TODAY.

    Self-inclusion: each partition's rows are part of the fleet
    histogram it is compared against. At production partition counts
    the self-mass is negligible; at very small fleets it biases toward
    passing (a 3-partition fleet where one partition IS a third of the
    fleet can hide real divergence) — this check is meaningful from
    roughly 5+ partitions, same regime as ProfileOutlier.

    Scale shape: ONE histogram pass over the data (groupBy(partition,
    bucket), map-side combined, <= bins rows out per partition); the
    fleet histogram, the per-group normalization, and the PSI reduce
    the tiny histogram table — nothing downstream scales with input
    size. Identical machinery to Drift's pass 4 (operators/drift.py).

    A partition with no non-null values of `col` contributes no
    histogram rows and passes vacuously (NotNull owns absence).
    Numeric form bins into `bins` equi-width buckets over [lo, hi]
    with edge clamping; categorical=True histograms the raw values.
    """

    col: str
    bins: int = 32
    lo: float = 0.0
    hi: float = 1.0
    categorical: bool = False
    psi_max: float = 0.25

    def check_id(self) -> str:
        return f"distribution_outlier({self.col})"

    def description(self) -> str:
        return (
            f"PSI of each partition's {self.col} distribution vs the "
            f"fleet must be <= {self.psi_max}"
        )


@dataclass(frozen=True)
class ProfileOutlier(Constraint):
    """Per-partition profile metric must not be a robust-z (MAD) outlier
    relative to its SIBLING partitions: |x - median| / (1.4826 * MAD)
    must stay <= z_max, with median/MAD taken across all partitions of
    the same run.

    The fleet-relative complement of every fixed-threshold check, and
    the direct generalization of the reference's whale-scoring kernel
    (robust z over log-features, statistical_anomaly_detection.py:60-103)
    lifted from rows to PARTITIONS: no threshold to tune or re-tune as
    the corpus grows — a partition is anomalous because it disagrees
    with its siblings TODAY. Catches the failures fixed bounds cannot
    see: one feed's null rate drifting while still under a global cap,
    one shard loaded twice (row_count outlier without needing a
    CountMatch manifest), one partition's numeric mean shifted by a
    unit-change bug.

    metric: 'null_fraction' (needs col), 'mean' (numeric col),
    'row_count' (no col). All three read the already-computed fused
    profile — ZERO extra scans of the data; the median/MAD pass runs
    over the tiny one-row-per-partition profile frame (even at 10^12
    files that is #partitions rows, and the two fleet aggregates reduce
    it to one broadcast row each).

    Degenerate fleet (MAD == 0, i.e. >= half the partitions share the
    median exactly): a partition passes iff its metric EQUALS the
    median — any deviation from an otherwise-constant fleet is an
    outlier. A partition whose metric is NULL (e.g. mean of an all-null
    partition) FAILS: the profile cannot vouch for it. Needs >= 2
    partitions to be meaningful; with one partition it passes trivially
    (x == median by construction).
    """

    metric: str = "mean"  # 'mean' | 'null_fraction' | 'row_count'
    col: str | None = None
    z_max: float = 3.5

    def __post_init__(self):
        if self.metric not in ("mean", "null_fraction", "row_count"):
            raise ValueError(f"unknown profile metric {self.metric!r}")
        if self.metric == "row_count":
            if self.col is not None:
                raise ValueError("row_count takes no column")
        elif self.col is None:
            raise ValueError(f"metric {self.metric!r} needs a column")

    def check_id(self) -> str:
        inner = self.metric if self.col is None else f"{self.metric}:{self.col}"
        return f"profile_outlier({inner})"

    def description(self) -> str:
        what = self.metric if self.col is None else f"{self.metric}({self.col})"
        return (
            f"per-partition {what} must be within {self.z_max} robust-z "
            f"(MAD) of the cross-partition median"
        )


@dataclass(frozen=True)
class SchemaMatch(Constraint):
    """Declared (column → Spark SQL type) contract on the input schema.

    Every declared column must exist with the declared type (DDL type
    strings — 'string', 'bigint', 'array<float>', …; synonyms like
    'long'/'bigint' normalize through Spark's own type parser). With
    allow_extra=False, undeclared columns are violations too — the
    schema-EVOLUTION tripwire for an Iceberg table whose writers add
    fields without telling the validation contract.

    Metadata-only: verdicts derive from df.schema, so the check performs
    ZERO data scans and costs the same at 10^12 rows as at 10^2 (the
    Catalyst schema is known before any job runs). The verdict row uses
    partition_id='__schema__' — schema is a table property, not a
    partition one (reference analogue: the unified-schema contract the
    detector assumes, etl/run_preprocessing.py:6-10)."""

    expected: tuple[tuple[str, str], ...]
    allow_extra: bool = True
    label: str | None = None

    def __init__(self, *expected: tuple[str, str], allow_extra: bool = True,
                 label: str | None = None):
        object.__setattr__(self, "expected", tuple(
            (str(n), str(t)) for n, t in expected))
        object.__setattr__(self, "allow_extra", bool(allow_extra))
        object.__setattr__(self, "label", label)

    def check_id(self) -> str:
        if self.label:
            return self.label
        return f"schema_match({','.join(n for n, _ in self.expected)})"

    def description(self) -> str:
        extra = "" if self.allow_extra else "; no undeclared columns"
        return (
            "schema must carry "
            + ", ".join(f"{n}:{t}" for n, t in self.expected) + extra
        )


@dataclass(frozen=True)
class TableSpec:
    """All constraints for one table, plus its partition column.

    partition_col: verdicts are emitted per distinct value of this column
    (None → the whole table is one partition). For the north-rule
    source-code table this is a repo-hash bucket.
    """

    name: str
    constraints: tuple[Constraint, ...]
    partition_col: str | None = None
    refs: dict[str, str] = field(default_factory=dict)  # ref_table name → path/view
    # Columns that get length-quantile (KLL) profiling; None → every
    # string column. Fixed-width columns (hex digests, enums) carry no
    # length signal — skipping their sketches trims the fused pass.
    profile_len_cols: tuple[str, ...] | None = None

    def by_type(self, cls) -> list:
        return [c for c in self.constraints if isinstance(c, cls)]
