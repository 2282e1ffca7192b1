"""Deterministic stratified sampling for training-mix construction.

A training-data pipeline samples each stratum (language × source, domain,
quality band …) at its own rate, and the sample must be REPRODUCIBLE: the
same document makes the same in/out decision on every engine, every run,
every cluster size. Spark's ``sampleBy`` can't promise that (its
Bernoulli draw depends on partition-internal RNG state, so a repartition
changes the sample), so the decision here is a pure function of the row:

    keep  ⇔  base_hash48(doc_id || '|' || salt) % BUCKETS < round(rate·BUCKETS)

- ``base_hash48`` is the repo-wide md5-derived 48-bit hash
  (``textops.base_hash48``), reproducible bit-for-bit in DuckDB — the
  oracle recomputes the identical threshold test in SQL;
- the ``salt`` decouples independent samples: two samples with different
  salts of the same corpus are independent draws, same salt = same rows
  (the property you want for resumable mix building);
- rates ride in as a tiny config map, broadcast-joined onto the corpus —
  row-local decision, ZERO extra shuffles, fully pushdown-friendly;
- rate resolution is ``round(rate * BUCKETS)`` buckets out of ``BUCKETS``
  (10 000 → 0.01 % granularity), identical integer in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from .textops import base_hash48

SAMPLE_BUCKETS = 10_000


def sample_bucket(id_expr, salt: str):
    """The 0..SAMPLE_BUCKETS-1 bucket of a row — pure function of
    (id, salt), identical in DuckDB as
    ``('0x' || substr(md5(id || '|<salt>'), 1, 12))::BIGINT % 10000``."""
    return base_hash48(
        F.concat_ws("|", id_expr.cast("string"), F.lit(salt))
    ) % SAMPLE_BUCKETS


def stratified_sample(df: DataFrame, rates: dict[tuple[str, ...], float],
                      key_cols: tuple[str, ...] = ("lang", "source"),
                      id_col: str = "doc_id", salt: str = "mix0",
                      default_rate: float = 0.0) -> DataFrame:
    """Keep each row of ``df`` with its stratum's rate, deterministically.

    ``rates`` maps stratum key tuples (values of ``key_cols``) to keep
    rates in [0, 1]; strata absent from the map use ``default_rate``.
    The rate map is config-sized by contract — it becomes a broadcast
    dimension joined on the stratum key, so the corpus-side plan is a
    single scan + filter with no shuffle. Output keeps ``df``'s columns.
    """
    for key, rate in rates.items():
        if not (0.0 <= rate <= 1.0):
            raise ValueError(f"rate for {key!r} must be in [0, 1], got {rate}")
        if len(key) != len(key_cols):
            raise ValueError(
                f"stratum key {key!r} does not match key_cols {key_cols}")
    if not (0.0 <= default_rate <= 1.0):
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    spark = SparkSession.getActiveSession() or df.sparkSession
    rate_rows = [(*key, int(round(rate * SAMPLE_BUCKETS)))
                 for key, rate in rates.items()]
    schema = ", ".join(f"{c} string" for c in key_cols) + ", __thr bigint"
    rdim = local_frame(spark, rate_rows, schema)
    default_thr = int(round(default_rate * SAMPLE_BUCKETS))
    return (
        df.join(F.broadcast(rdim), list(key_cols), "left")
        .withColumn("__thr",
                    F.coalesce(F.col("__thr"), F.lit(default_thr)))
        .filter(sample_bucket(F.col(id_col), salt) < F.col("__thr"))
        .drop("__thr")
        .select(*df.columns)
    )


def sample_exact_n(df: DataFrame, n_per_stratum: int,
                   key_cols: tuple[str, ...] = ("lang", "source"),
                   id_col: str = "doc_id", salt: str = "mix0") -> DataFrame:
    """EXACTLY ``n_per_stratum`` rows per stratum (fewer if the stratum is
    smaller), chosen deterministically: rank rows inside each stratum by
    their (hash, id) and keep the first N. Rate-based sampling
    (:func:`stratified_sample`) hits a rate in expectation; this hits a
    COUNT exactly — what a mix spec with per-source row budgets needs.

    One shuffle on the stratum key (the ranking window); the hash order is
    a pure function of (id, salt), so the same N rows come back on any
    engine, run, or partitioning. At 100 TB prefer rate-sampling first to
    shrink the windowed frame when N ≪ stratum size.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(
        sample_bucket(F.col(id_col), salt), F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
        .select(*df.columns)
    )


def token_budget_mix(df: DataFrame, budgets: dict[str, int],
                     stratum_col: str = "lang", weight_col: str = "n_chars",
                     id_col: str = "doc_id", salt: str = "mix0",
                     default_budget: int = 0) -> DataFrame:
    """Fill each stratum's budget (token/char count, any additive weight)
    with documents in deterministic hash order: keep a document iff the
    running ``weight_col`` total up to AND including it stays within the
    stratum's budget. The construction step of a training mix specified
    as "X tokens of lang A, Y of lang B".

    Greedy-by-hash-order is the deterministic analog of random-fill: the
    kept set is identical on every engine/run. One shuffle (the cumsum
    window on the stratum key); budgets ride in as a broadcast dim.
    A document larger than the remaining budget is skipped but documents
    after it may still fit — the standard greedy fill, expressible as
    keep ⇔ cumsum ≤ budget only when overshooting docs are excluded
    first; here the simpler prefix rule (stop at first overshoot) is
    used so the oracle is a pure window expression: keep ⇔ running total
    ≤ budget.
    """
    from pyspark.sql import Window

    spark = SparkSession.getActiveSession() or df.sparkSession
    rows = [(k, int(v)) for k, v in budgets.items()]
    bdim = local_frame(spark, rows,
                       f"{stratum_col} string, __budget bigint")
    w = (Window.partitionBy(stratum_col)
         .orderBy(sample_bucket(F.col(id_col), salt), F.col(id_col))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        df.join(F.broadcast(bdim), stratum_col, "left")
        .withColumn("__budget",
                    F.coalesce(F.col("__budget"), F.lit(int(default_budget))))
        .withColumn("__cum", F.sum(weight_col).over(w))
        .filter(F.col("__cum") <= F.col("__budget"))
        .drop("__budget", "__cum")
        .select(*df.columns)
    )


def temperature_sample(df: DataFrame, frac: float,
                       key_col: str = "lang", id_col: str = "doc_id",
                       salt: str = "temp0") -> DataFrame:
    """Temperature-scaled stratum sampling (mT5/PaLM-style α = 0.5):
    sample stratum ``l`` with probability ∝ p_l^α so low-resource strata
    are boosted relative to their natural share, targeting ``frac·N``
    kept rows overall. rate_l = min(1, target · q_l / n_l) with
    q_l = p_l^α / Σ_m p_m^α, then the usual deterministic hash-threshold
    keep (same machinery as :func:`stratified_sample`).

    Cross-engine bit-parity is engineered, not hoped for:

    - α is fixed at 0.5 so p^α is ``sqrt`` — correctly rounded by IEEE
      754 in BOTH engines, unlike ``pow`` (libm vs Math.pow may differ in
      the last ulp, which could flip a rounded threshold);
    - the denominator Σ p_m^α is a SEQUENTIAL fold over the strata
      sorted by key (collect → array_sort → aggregate), so the
      float-addition order is pinned; the oracle folds an identically
      ordered list.

    Plan shape: the stratum-count aggregate is map-side combinable; the
    rate dim is strata-sized (the single-partition window runs over that
    config-sized frame, not the corpus); the corpus side is one broadcast
    join + row-local filter — zero corpus shuffles.
    """
    from pyspark.sql import Window

    if not (0.0 <= frac <= 1.0):
        raise ValueError(f"frac must be in [0, 1], got {frac}")
    w = Window.partitionBy()
    rates = (
        df.groupBy(key_col).agg(F.count(F.lit(1)).alias("__n"))
        .withColumn("__n_total", F.sum("__n").over(w))
        .withColumn("__pw", F.sqrt(F.col("__n").cast("double")
                                   / F.col("__n_total").cast("double")))
        .withColumn("__denom", F.aggregate(
            F.array_sort(F.collect_list(
                F.struct(F.col(key_col), F.col("__pw"))).over(w)),
            F.lit(0.0), lambda acc, s: acc + s["__pw"]))
        .withColumn("__target", F.round(F.lit(frac) * F.col("__n_total")))
        .withColumn("__rate", F.least(
            F.lit(1.0),
            F.col("__target") * F.col("__pw") / F.col("__denom")
            / F.col("__n").cast("double")))
        .withColumn("__thr",
                    F.round(F.col("__rate") * SAMPLE_BUCKETS).cast("bigint"))
        .select(key_col, "__thr")
    )
    return (
        df.join(F.broadcast(rates), key_col)
        .filter(sample_bucket(F.col(id_col), salt) < F.col("__thr"))
        .select(*df.columns)
    )


def split_assign(df: DataFrame,
                 splits: tuple[tuple[str, float], ...] = (
                     ("train", 0.90), ("val", 0.05), ("test", 0.05)),
                 id_col: str = "doc_id", salt: str = "split0") -> DataFrame:
    """Deterministic train/val/test split assignment: every row lands in
    exactly one split, decided by its hash bucket against the cumulative
    rate thresholds — a pure function of (id, salt), so the split is
    stable across engines, runs, repartitions, and INCREMENTAL corpus
    growth (a new document never moves an old one between splits, which a
    rank-based split cannot promise).

    ``splits`` is an ordered (name, fraction) spec summing to 1; buckets
    are carved left-to-right, so ``train`` owns [0, 9000), ``val``
    [9000, 9500), ``test`` [9500, 10000) at the default spec. Row-local —
    zero shuffles; the oracle reproduces the identical CASE ladder.
    """
    total = sum(r for _, r in splits)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    bucket = sample_bucket(F.col(id_col), salt)
    cum = 0.0
    expr = None
    for name, rate in splits:
        cum += rate
        thr = int(round(cum * SAMPLE_BUCKETS))
        cond = bucket < F.lit(thr)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("split", expr)


def weighted_sample_n(df: DataFrame, n: int, weight_col: str,
                      id_col: str = "doc_id",
                      salt: str = "ws0") -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    Spirakis A-ES): each row draws u ∈ (0, 1) from its md5 hash and is
    ranked by key = ln(u) / w — the top ``n`` keys are exactly a weighted
    sample without replacement (a row's inclusion probability scales with
    its weight). The standard draw for "sample documents proportional to
    token count" mix steps.

    Scale shape: the key is row-local (one md5 + one ln, zero shuffles);
    the top-n is a TakeOrdered with an ``id_col`` tiebreak — no global
    sort, no window. Deterministic: u is a pure function of (id, salt),
    so the same sample comes back on any engine, run, or partitioning
    (the oracle rebuilds the identical keys in SQL). Rows with
    non-positive weight are excluded (their inclusion probability is 0;
    ln(u)/w would flip sign and DOMINATE the ranking instead).

    u maps the 48-bit hash to ((h + 1) / (2^48 + 1)) ∈ (0, 1) — both
    endpoints open, so ln(u) is finite and no weight cancels to
    key = 0 = certain-selection. The key is rounded to 12 dp before
    ranking: ln() is the one transcendental whose last ulp may differ
    across libm implementations, and an unrounded key would let a 1-ulp
    divergence flip the rank-n cut between engines — 12 dp is far below
    any meaningful weight distinction while making the cut (with the
    ``id_col`` tiebreak) bit-stable everywhere.
    """
    if n <= 0:
        raise ValueError("n must be positive")
    h = base_hash48(
        F.concat_ws("|", F.col(id_col).cast("string"), F.lit(salt)))
    u = (h.cast("double") + 1.0) / float(2 ** 48 + 1)
    key = F.round(F.log(u) / F.col(weight_col).cast("double"), 12)
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__wkey", key)
        .orderBy(F.col("__wkey").desc(), F.col(id_col))
        .limit(n)
        .drop("__wkey")
        .select(*df.columns)
    )


def cap_per_group(df: DataFrame, group_col: str, cap: int,
                  order_col: str, id_col: str = "doc_id", *,
                  skew_safe: bool = True, n_salts: int = 16) -> DataFrame:
    """Per-group frequency cap: keep at most ``cap`` rows per
    ``group_col`` value, preferring higher ``order_col`` (ties broken by
    ``id_col`` ascending so the kept set is deterministic). The
    RefinedWeb/CommonCrawl "domain cap" step — without it a handful of
    template-heavy domains dominate the training mix no matter how good
    the per-document quality gate is.

    Scale shape (skew-safe default): a naive single rank window keyed
    on ``group_col`` has its memory bounded by the LARGEST group — at
    crawl scale a hot domain is that group, the row-number-window skew
    case AQE cannot split (a rank can't be salted without breaking it).
    This plan keeps every window frame bounded by ``cap`` (or
    ``cap * n_salts``) rows instead:

    1. partial-agg count per group (map-side combinable), joined back;
    2. groups already ≤ cap bypass the cap-pruning entirely — every row
       survives, and their rank windows are ≤ cap rows by definition;
    3. over-cap groups pre-prune through a SALTED local top-cap: rank
       within (group, salt(id)) keeps ≤ cap rows per salt — a hot
       domain's biggest task shrinks n_salts× — then the final exact
       rank runs over ≤ cap·n_salts survivors per group. A row outside
       its salt's top-cap can't be in the group's top-cap (its salt
       already holds cap better rows), so the prune is lossless and the
       result is bit-identical to the single window (pytest asserts
       this on a one-hot-domain corpus).

    Emits the surviving rows plus their in-group rank so downstream mix
    steps can tighten the cap without re-ranking. ``skew_safe=False``
    selects the naive single-window form (the semantic reference the
    equivalence test compares against).
    """
    if cap <= 0:
        raise ValueError("cap must be positive")
    from pyspark.sql import Window
    order = [F.col(order_col).desc(), F.col(id_col).asc()]
    w = Window.partitionBy(group_col).orderBy(*order)
    if not skew_safe:
        return (
            df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= cap)
            .withColumn("cap_rank", F.col("__rk").cast("int"))
            .drop("__rk")
        )
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__gn"))
    tagged = df.join(counts, group_col)
    under = (
        tagged.filter(F.col("__gn") <= cap)
        .withColumn("cap_rank", F.row_number().over(w).cast("int"))
    )
    w_salt = Window.partitionBy(
        group_col,
        F.pmod(F.crc32(F.col(id_col).cast("string")), F.lit(n_salts))
    ).orderBy(*order)
    over = (
        tagged.filter(F.col("__gn") > cap)
        .withColumn("__lrk", F.row_number().over(w_salt))
        .filter(F.col("__lrk") <= cap)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= cap)
        .withColumn("cap_rank", F.col("__rk").cast("int"))
        .drop("__lrk", "__rk")
    )
    return under.unionByName(over).select(*df.columns, "cap_rank")
