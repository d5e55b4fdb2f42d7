"""Deterministic-output helpers for oracle-checked queries.

The correctness gate runs every registered query in both Spark and DuckDB and
hash-compares values. Floating-point aggregation is order-dependent, and Spark
parallelizes aggregation while DuckDB may not — so any ``SUM(double)`` over
many rows is nondeterministic across engines. The rules used by every checked
query, on BOTH sides:

1. **Exact sums**: ``SUM(CAST(x AS DECIMAL(38,12)))`` — decimal addition is
   exact and order-independent; the double→decimal cast of identical input
   doubles is identical in both engines (a double can never sit exactly on a
   decimal half-way boundary, so round-nearest is unambiguous).
2. **Render**: final numeric outputs become ``ROUND(CAST(dec AS DOUBLE), 6)``
   — two deterministic scalar steps.
3. **Averages / ratios**: exact decimal sums first, one double division last.
4. **Variance/stddev/corr/covar**: computed from exact decimal moments
   (sum, sum of squares, sum of products), never from the engines' native
   accumulate-in-double implementations.
5. **Event timestamps**: the ``events`` table is nanosecond parquet; Spark
   truncates to microseconds on read, so DuckDB oracles cast
   ``ts::TIMESTAMP`` (same truncation) before use.
6. Every query ends with a total ``ORDER BY`` on a unique key set.
7. **Large-magnitude rounding**: ``ROUND(double, 6)`` of values ≳1e9 can
   differ by 1 ulp across engines (a 6-dp decimal of that magnitude is
   not representable as a double, and the engines' round kernels pick
   differently). Where a checked output can exceed ~1e9, round in the
   DECIMAL domain first and cast to double last (see q49) — caught by
   the sf0.1 sweep, invisible at sf0.01.

These helpers build the Spark side; the matching SQL fragments are inlined in
each spec's oracle string.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Decimal wide enough for 100 TB-scale sums: 26 integer digits, 12 fraction.
DEC = "decimal(38,12)"


def dsum(col: Column | str) -> Column:
    """Order-independent exact sum of a double expression."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC))


def render(col: Column, scale: int = 6) -> Column:
    """Canonical double rendering of an exact decimal value."""
    return F.round(col.cast("double"), scale)


def _micros(col: Column | str) -> Column:
    """Exact fixed-point encoding: round(x·10⁶) as long ("micro-units").

    The long-sum path is whole-stage-codegen'd (measured ~2.5× the
    decimal(38,12) BigDecimal path). Both engines compute the identical
    IEEE double ``x·10⁶`` and round half-away-from-zero (Java HALF_UP ≡
    DuckDB round for either sign), so the encoding is engine-exact.
    Headroom: |Σ| < 2⁶³ holds through ~10¹² rows of 10⁶-unit values —
    fine for these checked queries; :func:`dsum` (decimal) remains the
    tool for squared/product moments (q27) where micro-units overflow.

    Rounding is spelled as primitive codegen arithmetic, not ``F.round``:
    Spark's Round on a double allocates ``BigDecimal.valueOf(y).setScale``
    PER VALUE, which profiled as the single largest constant in every
    lineitem-scan aggregate (SCALE.md r10 evidence round-up, sf3: the 7-sum q22
    aggregate was 2.4 s with Round vs 0.45 s with this form — worse than
    the 1.1 s single-threaded figure under 32 threads, i.e. allocation
    churn anti-scales). The replacement is EXACT half-away-from-zero for
    |y| < 2⁵²: ``floor(|y|)`` is exact, the fractional remainder
    ``|y| − floor(|y|)`` is an exact FP subtraction (the low significand
    bits), and ``≥ 0.5`` decides the round-up — no ``+0.5`` addition, so
    none of the classic double-rounding boundary bug; and BigDecimal
    HALF_UP on the shortest-decimal repr agrees with exact-binary
    half-away for every double below 2⁵² (a representable boundary k+0.5
    can never sit strictly between a double and its shortest repr). For
    |y| ≥ 2⁵² the fraction is identically 0 and the path degenerates to
    the plain cast, same as before. Verified hash-identical to the Round
    form across the full oracle suite at sf0.01/sf0.1/sf1 (r10).
    """
    c = F.col(col) if isinstance(col, str) else col
    y = c * 1_000_000
    a = F.abs(y)
    m = F.floor(a)  # LongType; exact for |y| < 2⁶³
    mag = m + (a - m >= 0.5).cast("long")
    return F.when(y < 0, -mag).otherwise(mag)


def sum6(col: Column | str) -> Column:
    """Order-independent exact sum rendered to 6 decimals (micro-units)."""
    return F.round(F.sum(_micros(col)).cast("double") / 1_000_000, 6)


def avg6(col: Column | str) -> Column:
    """Exact-sum average rendered to 6 decimals (double division last)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(_micros(c)).cast("double") / 1_000_000 / F.count(c), 6)


def fround(col: Column | str, scale: int = 6) -> Column:
    """``F.round(col, scale)`` computed in primitive codegen arithmetic.

    Spark's Round on a double allocates ``BigDecimal.valueOf(y).setScale``
    PER VALUE (the :func:`_micros` finding — the single largest constant in
    lineitem-scan aggregates); for a per-row OUTPUT round that allocation
    churn lands on every result row. This form is the :func:`_micros`
    half-away-from-zero integer round followed by one long→double division,
    with the real ``F.round`` as the per-row fallback wherever the fast
    path is not PROVABLY identical, so semantics are identical everywhere.

    Why the fallback band exists (r19 verdict): ``F.round`` operates on
    ``BigDecimal.valueOf(x)`` — the SHORTEST-DECIMAL repr of x — and shifts
    its decimal point exactly, while the fast path rounds the binary
    product ``fl(x·10^s)``. The two rationals differ by at most a couple
    of ulps (|dec(x)−x| ≤ ½ulp(x) and the product rounding ≤ ½ulp), so
    HALF_UP on one and half-away on the other can disagree ONLY when the
    product lies within that error of a ``k+0.5`` boundary (e.g. x=2.675,
    scale 2: shortest repr "2.675" HALF_UPs to 2.68, the binary product
    267.4999…97 floors to 2.67). The guard routes every value whose
    fractional part is within ``max(|y|,1)·2⁻⁴⁸`` of 0.5 — ≥16 ulps, a
    strict superset of the divergence band — to the real ``F.round``;
    everywhere else no boundary can sit between the two rationals, both
    roundings agree, and the final division ``m / 10^s`` is the same
    correctly-rounded conversion as BigDecimal's ``.toDouble``. Outside
    ``|x|·10^s < 2⁵²`` (huge, NaN, null, ±Inf) the fallback also applies,
    as before. Bit-identity vs ``F.round`` is property-tested on
    adversarial shortest-repr midpoints (tests/test_property.py) and the
    swaps were verified value-identical on the actual data per adopting
    query (r19); the boundary band never fires on the generated
    cents/micros data, so plans pay only a comparison, not the fallback.
    """
    c = F.col(col) if isinstance(col, str) else col
    p = float(10**scale)
    y = c * p
    a = F.abs(y)
    m = F.floor(a)  # LongType; exact for a < 2⁵²
    mag = m + (a - m >= 0.5).cast("long")
    fast = F.when(y < 0, -mag).otherwise(mag).cast("double") / p
    # a - m is exact for a < 2⁵² (both representable, result < 1), so the
    # band test itself is exact arithmetic on the computed product
    near_half = F.abs(a - m - 0.5) < F.greatest(a, F.lit(1.0)) * F.lit(2.0**-48)
    return F.when((a < F.lit(float(2**52))) & ~near_half, fast).otherwise(
        F.round(c, scale)
    )


def iround(col: Column | str) -> Column:
    """``F.round(col).cast("long")`` in primitive arithmetic (the
    :func:`_micros` core at unit scale): bit-identical for ``|x| < 2⁵²``,
    BigDecimal-free per row; the out-of-range/NaN/null branch IS the old
    expression, so semantics are identical everywhere."""
    c = F.col(col) if isinstance(col, str) else col
    a = F.abs(c)
    m = F.floor(a)
    mag = m + (a - m >= 0.5).cast("long")
    fast = F.when(c < 0, -mag).otherwise(mag)
    return F.when(a < F.lit(float(2**52)), fast).otherwise(
        F.round(c).cast("long")
    )


def render_fixed(col: Column, scale: int = 6) -> Column:
    """Rule-7 rendering for a computed DOUBLE that can exceed ~1e9.

    ``ROUND(double, k)`` re-rounds inside each engine's own kernel and can
    differ by 1 ulp at large magnitude (the k-dp decimal is not a
    representable double). This renders via exact fixed point instead:
    both engines compute the identical IEEE product ``x·10ᵏ``, round it to
    an integer (half-away-from-zero in both), and perform one identical
    long→double division. Valid while ``|x|·10ᵏ < 2⁵³`` — e.g. |x| < 9e8
    at k=6 — which holds for variance-class statistics (scale-invariant
    in row count) at any SF.
    """
    p = float(10**scale)
    return F.round(col * p).cast("long").cast("double") / p


def sql_render_fixed(expr: str, scale: int = 6) -> str:
    """DuckDB fragment matching :func:`render_fixed`."""
    p = 10**scale
    return f"CAST(CAST(ROUND(({expr}) * {p}) AS BIGINT) AS DOUBLE) / {p}"


def sql_sum6(expr: str) -> str:
    """DuckDB fragment matching :func:`sum6`."""
    return (
        f"ROUND(CAST(SUM(CAST(ROUND(({expr}) * 1000000) AS BIGINT)) AS DOUBLE)"
        f" / 1000000, 6)"
    )


def sql_avg6(expr: str) -> str:
    """DuckDB fragment matching :func:`avg6`."""
    return (
        f"ROUND(CAST(SUM(CAST(ROUND(({expr}) * 1000000) AS BIGINT)) AS DOUBLE)"
        f" / 1000000 / COUNT({expr}), 6)"
    )


def ordered(df: DataFrame, *cols: Column | str, partitions: int = 1) -> DataFrame:
    """Totally-ordered output (≡ ``orderBy``) with a bounded range exchange.

    ``orderBy`` range-partitions into ``spark.sql.shuffle.partitions`` —
    for a *presentation* sort that means a boundary-sampling pass plus many
    near-empty sorted partitions, and with AQE each is a scheduled stage.
    A single range partition needs no sampling and one sort task; measured
    0.14-0.26 s faster per query at sf0.1 with far lower variance, and
    equal-or-better up to the largest checked outputs (60k rows). Range
    partitioning + per-partition sort IS a global total order (partition
    i's range precedes partition i+1's), so results are identical to
    ``orderBy``.

    The final presentation sort is inherently OUTPUT-sized, not
    input-sized — a report result sorts fine on one task at any corpus
    scale. Pass ``partitions>1`` only for genuinely large ordered extracts
    (table-sized exports), where parallel range partitions are the point.
    """
    return df.repartitionByRange(partitions, *cols).sortWithinPartitions(*cols)


def presort_ranges(df: DataFrame, *cols: Column | str, partitions: int = 16) -> DataFrame:
    """Range-partition BEFORE an expensive per-row stage so a later
    ``sortWithinPartitions(*cols)`` yields a total order without
    re-executing that stage.

    ``ordered()`` placed AFTER a ``mapInPandas`` kernel makes the range
    exchange's boundary sampler execute the kernel a SECOND time (the
    sample job recomputes the un-materialized child lineage) — measured
    3.9 s → 0.6 s for l7_fingerprint at sf1 when the exchange moved below
    the kernel. Placed BEFORE, the sampler re-reads only the cheap parquet
    scan, the kernel runs once, and the kernel's parallelism becomes
    ``partitions`` instead of the scan's file-split count (sf1 documents
    arrive as 4 splits on a 16+-thread pool).

    Scale trade, stated honestly: this moves the INPUT through one range
    exchange (bytes ∝ corpus) where the after-kernel form shuffles only
    the kernel's (usually tiny) output but runs the Python kernel twice.
    One input shuffle for one kernel execution is the right trade for
    CPU-heavy kernels; at 100 TB the exchange doubles as the parallelism
    dial for the Python stage. Requires ``cols`` to exist on the INPUT and
    survive the kernel unchanged (keys like doc_id do); the kernel must be
    a pure per-row map so range membership is preserved.
    """
    return df.repartitionByRange(partitions, *cols)


# ---------------------------------------------------------------------------
# Sample-free parallel total order (r8): static range exchange
# ---------------------------------------------------------------------------

def _murmur3_long(x: int, seed: int = 42) -> int:
    """Murmur3_x86_32 of a little-endian 8-byte long, Spark's ``hash()``
    for LongType (two 32-bit mixes, len=8 finalization; public algorithm,
    Austin Appleby's MurmurHash3). Pure Python so slot labels are computed
    driver-side with ZERO Spark jobs; pinned against ``F.hash`` in
    tests/test_plans.py."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    for k in (x & 0xFFFFFFFF, (x >> 32) & 0xFFFFFFFF):
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 8
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - 0x100000000 if h >= 0x80000000 else h


def sized_partitions(
    rows: int, per_partition: int, lo: int = 8, hi: int = 48
) -> int:
    """Exchange width that TRACKS data volume: ceil(rows/per_partition),
    clamped. A constant partition count is right at exactly one scale
    factor — 16 partitions of sf3 orders leave half a 32-thread pool idle
    through the dominant sort (q33 r9: 1.66 s at 16 → 1.07 s at 32),
    while 32 partitions of sf0.1 are pure task-launch overhead. ``rows``
    comes from :func:`catalog.row_count` (parquet footer metadata, no
    jobs); ``per_partition`` is the operator's measured comfortable
    per-task row budget. On a cluster the same formula sizes to executor
    memory instead of a thread pool — the point is it's a function of
    the data, not a constant."""
    if rows <= 0:
        return lo
    return max(lo, min(hi, -(-rows // per_partition)))


_SLOT_LABELS: dict[int, list[int]] = {}


def slot_labels(partitions: int) -> list[int]:
    """``labels[b]`` is a long whose Spark hash lands in shuffle partition
    ``b`` of ``partitions`` — i.e. ``pmod(hash(labels[b]), partitions) == b``.
    Lets a hash exchange emulate a range exchange: tag each row with the
    label of its (monotone) key bucket and ``repartition(p, tag)`` places
    bucket b in output partition b, in bucket order, with no sampling pass."""
    if partitions not in _SLOT_LABELS:
        found: dict[int, int] = {}
        i = 0
        while len(found) < partitions:
            b = _murmur3_long(i) % partitions
            found.setdefault(b, i)
            i += 1
        _SLOT_LABELS[partitions] = [found[b] for b in range(partitions)]
    return _SLOT_LABELS[partitions]


def ordered_static(
    df: DataFrame,
    bounds: tuple[float, float] | None,
    *cols: str,
    partitions: int = 8,
) -> DataFrame:
    """:func:`ordered` with the boundary SAMPLING JOB replaced by static
    boundaries — equal-width buckets of the leading sort key over
    ``bounds`` (driver-side parquet footer stats, ``Catalog.bounds``).

    ``repartitionByRange(p>1)`` schedules a separate boundary-sampling job
    that re-executes the exchange's whole child; at sf0.1 that job is
    ~40% of a sub-second query's wall clock, and it doubles the child's
    cost at every scale (measured q05 sf3: 4.8 s sampled vs 3.9 s static).
    Here the bucket of each row is computed IN-ROW from static bounds, the
    bucket is tagged with a :func:`slot_labels` long so a plain hash
    exchange places bucket b in output partition b, and a per-partition
    sort yields the identical global order — one job, no sampling.

    Correctness never depends on the bounds: the bucket expression is
    monotone in the leading key for ANY ``(lo, hi)`` (clamped at both
    ends) and NULL keys pin to bucket 0 (Spark sorts NULLs first under
    asc). Stale or approximate bounds only skew partition SIZES — the
    equal-width split is a balance hint, exactly like the sampler's
    estimate. ``bounds=None`` (no footer stats) falls back to the sampled
    :func:`ordered`.

    At 100 TB the static form is strictly better when key bounds are
    known (append-mostly fact tables: footer min/max): the sampler's
    second full-lineage execution is the thing that does NOT survive a
    1000× scale-up. Equal-width is the right default for dense surrogate
    keys; skewed keys keep their ORDER guarantee and can pass wider
    ``partitions`` to re-balance.
    """
    if bounds is None:
        return ordered(df, *cols, partitions=partitions)
    lo, hi = float(bounds[0]), float(bounds[1])
    p = max(int(partitions), 1)
    if p == 1:
        return ordered(df, *cols, partitions=1)
    # the tag is internal here (dropped before return), so a collision
    # with a user column is survivable by renaming OUR side (ADVICE r8:
    # withColumn silently overwrote a pre-existing _srp)
    tag_col = "_srp"
    while tag_col in df.columns:
        tag_col = "_" + tag_col
    tag = F.expr(_static_tag_sql(cols[0], lo, hi, p))
    return (
        df.withColumn(tag_col, tag)
        .repartition(p, F.col(tag_col))
        .sortWithinPartitions(*cols)
        .drop(tag_col)
    )


def _static_tag_sql(key: str, lo: float, hi: float, p: int) -> str:
    """The static-bucket slot tag as ONE SQL string.

    Semantically identical to the original Column-composed form (same
    Catalyst expression tree after parsing), but built with a single
    ``F.expr`` py4j round trip instead of ~60 Column-constructor calls —
    plan construction was measured at ~110 ms per call under the
    Column form, a material slice of the per-query driver floor at bench
    scale (the JVM-side plan and its execution are unchanged).

    Float literals are embedded as ``CAST('<repr>' AS DOUBLE)``: a plain
    SQL decimal literal parses as DECIMAL (different expression typing
    than the Column form's DoubleType lit), while repr round-trips the
    exact double through the string parse.
    """
    labels = slot_labels(p)
    width = max((hi - lo) / p, 1e-12)
    arr = ",".join(f"{v}L" for v in labels)
    lo_sql = f"CAST('{lo!r}' AS DOUBLE)"
    w_sql = f"CAST('{width!r}' AS DOUBLE)"
    bucket = (
        f"least({p - 1}, greatest(0, "
        f"CAST(floor((CAST(`{key}` AS DOUBLE) - {lo_sql}) / {w_sql}) AS INT)))"
    )
    return (
        f"CASE WHEN `{key}` IS NULL THEN {labels[0]}L "
        f"ELSE element_at(array({arr}), {bucket} + 1) END"
    )


def presort_static(
    df: DataFrame,
    bounds: tuple[float, float] | None,
    key: str,
    partitions: int = 16,
    keep_tag: bool = False,
) -> DataFrame:
    """:func:`presort_ranges` without the boundary-sampling job: tag each
    row with the :func:`slot_labels` label of its static key bucket
    (``_srp``) and hash-exchange on the tag — bucket b lands in output
    partition b, so a later ``sortWithinPartitions`` still yields a total
    order, and there is no sampler to re-execute the child.

    ``keep_tag=False`` (projections, Python kernels): the tag is dropped
    right after the exchange — partition placement survives any narrow
    stage above it.

    ``keep_tag=True`` (window / groupBy consumers): the ``_srp`` column is
    kept so the consumer can include it in its partitioning keys —
    ``Window.partitionBy("_srp", key)`` / ``groupBy("_srp", key)``.
    ``_srp`` is a deterministic function of ``key``, so the groups are
    IDENTICAL to partitioning by ``key`` alone, while Catalyst sees
    HashPartitioning(_srp) ⊆ ClusteredDistribution([_srp, key]) and
    plans no extra exchange. (It cannot prove f(key) functional
    dependence on its own — carrying the tag is how we tell it.)

    Bounds are a balance hint only (see :func:`ordered_static`);
    ``None`` falls back to the sampled :func:`presort_ranges`.
    """
    # the tag name is part of the keep_tag CONTRACT (consumers reference
    # "_srp" in their partitionBy/groupBy keys), so a pre-existing _srp
    # column cannot be silently overwritten OR renamed — refuse loudly
    # (ADVICE r8)
    if "_srp" in df.columns:
        raise ValueError(
            "presort_static: input already has a '_srp' column; rename it "
            "before tagging (the tag name is part of the keep_tag contract)"
        )
    if bounds is None:
        out = presort_ranges(df, key, partitions=partitions)
        # constant tag keeps keep_tag callers working: RangePartitioning(key)
        # satisfies ClusteredDistribution([_srp, key]) and a constant column
        # never changes the groups
        return out.withColumn("_srp", F.lit(0).cast("long")) if keep_tag else out
    lo, hi = float(bounds[0]), float(bounds[1])
    p = max(int(partitions), 1)
    tag = F.expr(_static_tag_sql(key, lo, hi, p))
    out = df.withColumn("_srp", tag).repartition(p, F.col("_srp"))
    return out if keep_tag else out.drop("_srp")
