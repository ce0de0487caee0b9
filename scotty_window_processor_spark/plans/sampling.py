"""Deterministic sampling / dataset-split operators for training-data
pipelines.

Both operators are content-addressed: membership is a pure function of a
row's id and a caller-chosen salt, via the portable md5-60 hash family
(``plans/portable_hash.py``) that DuckDB reproduces bit-for-bit. That
property is what a 100 TB corpus actually needs from its train/val split
and its rebalancing sample:

- **stable** — a document keeps its split/sample membership across
  pipeline re-runs, repartitions, cluster sizes, and incremental
  appends (no ``rand()``, no seed-per-partition coupling);
- **shuffle-free** — ``deterministic_split`` is a narrow projection
  (the filter/CASE pushes into the scan; splitting 100 TB costs one
  pass, not one shuffle); ``stratified_sample_cap`` adds only ONE
  aggregation over the strata columns (tiny output: one row per
  stratum) joined back as a broadcast — the data side never shuffles;
- **auditable** — the same arithmetic runs as plain SQL in any engine
  with md5, so split membership can be re-derived independently of
  Spark (``tests/test_r06_optimizations.py`` holds the mixture sample to
  exactly that SQL).

No reference equivalent (Scotty has no relational surface): a library
module outside the Scotty core, with no gate in ``__spark_entry__``.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .portable_hash import md5_60

DENOM = 1_000_000
"""Bucket resolution: split fractions are expressed in millionths, so
the coarsest representable fraction is 1e-6 and threshold arithmetic is
exact integer math in both Spark and the SQL oracle."""


def split_bucket(id_col: Column, salt: str, denom: int = DENOM) -> Column:
    """Uniform bucket in [0, denom) from (salt, id) — the membership
    primitive both operators share. md5-60 is uniform over 60 bits, so
    pmod by 1e6 (≪ 2^60) is uniform to ~1e-12 bias."""
    return F.pmod(
        md5_60(F.concat(F.lit(salt), id_col.cast("string"))), F.lit(int(denom))
    )


def deterministic_split(
    df: DataFrame,
    id_col: str,
    splits: Dict[str, float],
    salt: str = "split-v1",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to exactly one named split (train/val/test…) by
    hashed id. ``splits`` maps name → fraction; fractions must sum to 1
    (±1e-9). Assignment is a CASE over cumulative integer thresholds —
    a narrow, zero-shuffle projection that Catalyst folds into the scan,
    and a row's split never changes when data is added or repartitioned.

    Changing ``salt`` produces an independent re-split (e.g. per
    training run); keeping it pins membership forever — the
    leakage-control property: a val document can never drift into train
    on a later pipeline run."""
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    if not splits:
        raise ValueError("at least one split required")
    names = list(splits)
    # cumulative thresholds in exact integer millionths; the last split
    # absorbs rounding remainder so coverage is total by construction
    cum, bounds = 0.0, []
    for name in names[:-1]:
        cum += splits[name]
        bounds.append(int(round(cum * DENOM)))
    b = split_bucket(F.col(id_col), salt)
    # forward CASE: first threshold wins
    case = F.when(b < F.lit(bounds[0]), F.lit(names[0])) if bounds else None
    for name, bound in zip(names[1:-1], bounds[1:]):
        case = case.when(b < F.lit(bound), F.lit(name))
    expr = case.otherwise(F.lit(names[-1])) if case is not None else F.lit(names[-1])
    return df.withColumn(out_col, expr)


def split_thresholds_sql(
    id_expr: str, splits: Dict[str, float], salt: str = "split-v1"
) -> str:
    """The oracle-side CASE for ``deterministic_split`` — identical
    integer thresholds over the identical md5-60 bucket, as ANSI-ish SQL
    (DuckDB syntax for the hex parse). Kept next to the operator so the
    two can never drift independently."""
    from .portable_hash import md5_60_sql

    salted = f"'{salt}' || cast({id_expr} as varchar)"
    bucket = f"({md5_60_sql(salted)} % {DENOM})"
    names = list(splits)
    cum, arms = 0.0, []
    for name in names[:-1]:
        cum += splits[name]
        arms.append(f"WHEN {bucket} < {int(round(cum * DENOM))} THEN '{name}'")
    if not arms:
        return f"'{names[-1]}'"
    return "CASE " + " ".join(arms) + f" ELSE '{names[-1]}' END"


def stratified_sample_cap(
    df: DataFrame,
    strata: Sequence[str],
    id_col: str,
    cap: int,
    salt: str = "sample-v1",
) -> DataFrame:
    """Downsample each stratum (e.g. (lang, source)) to ≈``cap`` rows,
    deterministically: per-stratum keep-rate ``min(1, cap/size)`` is
    computed from ONE tiny aggregation (a row per stratum), broadcast
    back, and applied as a hash threshold — so the 100 TB data side is
    filtered in place with no shuffle, and membership is reproducible
    row-for-row. Strata at or under the cap pass through whole.

    The keep-rate uses exact integer division (``cap*DENOM div size``)
    so the SQL oracle computes the identical threshold; kept counts are
    Binomial(size, rate) around the cap (hash sampling trades exact-k
    for statelessness — exact-k would need a per-stratum sort/rank, a
    full shuffle of every oversized stratum)."""
    strata = list(strata)
    sizes = df.groupBy(*strata).agg(F.count(F.lit(1)).alias("_stratum_size"))
    rates = sizes.withColumn(
        "_keep_num",
        F.least(
            F.lit(DENOM).cast("long"),
            F.expr(f"{int(cap) * DENOM} div _stratum_size"),
        ),
    )
    return (
        df.join(F.broadcast(rates), strata)
        .where(split_bucket(F.col(id_col), salt) < F.col("_keep_num"))
        .drop("_stratum_size", "_keep_num")
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_num: Column,
    salt: str = "wsample-v1",
) -> DataFrame:
    """Per-row keep probability ``weight_num``/:data:`DENOM` (an integer
    column in millionths, e.g. a quality score) — the quality-weighted
    downsampling primitive: keep iff bucket(salt, id) < weight_num.
    Stateless, zero-shuffle, content-addressed (same stability
    guarantees as :func:`deterministic_split`); callers derive
    ``weight_num`` with exact integer arithmetic (``x * DENOM div y``)
    so any SQL engine reproduces membership row-for-row."""
    return df.where(split_bucket(F.col(id_col), salt) < weight_num)


def downsample_to_mixture(
    df: DataFrame,
    group_col: str,
    weights: Dict[str, float],
    id_col: str,
    salt: str = "mix-v1",
    scale: float = 1.0,
) -> DataFrame:
    """Reweight corpus composition to target mixture ``weights`` — the
    domain-mixing primitive of a training-data pipeline (e.g. 40% web,
    30% code, 30% books). Emits the LARGEST subsample whose group
    composition matches ``weights`` without upsampling any group:
    N = scale * min_g(size_g / w_g), keep-rate_g = w_g * N / size_g.
    The bottleneck group passes (nearly) whole; every other group is
    hash-thresholded down. Groups absent from ``weights`` are dropped.

    Cost shape: ONE tiny aggregation (a row per group) + a broadcast
    join back; the corpus side never shuffles, and membership is a pure
    function of (salt, id) — stable across re-runs and appends, like
    :func:`deterministic_split`. All threshold arithmetic is exact
    64-bit integer math in millionths (safe to 10^12 rows) so the SQL
    oracle (:func:`mixture_kept_sql`) reproduces membership
    row-for-row."""
    if not weights:
        raise ValueError("at least one group weight required")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"mixture weights must sum to 1, got {total}")
    if not 0.0 < scale <= 1.0:
        raise ValueError(f"scale must be in (0, 1], got {scale}")
    w_int = {g: int(round(w * DENOM)) for g, w in weights.items()}
    if any(v <= 0 for v in w_int.values()):
        raise ValueError(f"weights must each be >= 1/{DENOM}")
    scale_num = int(round(scale * DENOM))
    # ONE tiny aggregation (a row per weighted group), collected: the
    # threshold arithmetic is exact 64-bit integer math over ≤len(weights)
    # rows, so computing it driver-side and inlining the result as a CASE
    # literal replaces the previous sizes→rates→min→thresholds chain of
    # THREE nested broadcast-exchange stages (each a sequential job at
    # execution time) with one small agg job + one scan-with-filter.
    # Python // equals Spark div on these non-negative operands, so
    # membership is bit-identical (mixture_kept_sql pins the same values).
    # Bounded by construction: the collect is one row per group named in
    # ``weights`` — never corpus-sized.
    sizes = {
        r[0]: r[1]
        for r in df.where(F.col(group_col).isin(list(w_int)))
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("_sz"))
        .collect()
    }
    present = {g: w_int[g] for g in sizes}
    if not sizes:
        return df.where(F.lit(False))
    nmax = min(sizes[g] * DENOM // present[g] for g in sizes)
    n2 = nmax * scale_num // DENOM
    thresholds = {g: present[g] * n2 // sizes[g] for g in sizes}
    case = None
    for g, t in thresholds.items():
        arm = F.when(F.col(group_col) == F.lit(g), F.lit(t))
        case = arm if case is None else case.when(F.col(group_col) == F.lit(g), F.lit(t))
    thr = case.otherwise(F.lit(None).cast("long"))
    # groups absent from ``weights`` (or NULL) hit the NULL arm and the
    # comparison is never true — same drop the previous inner join did
    return df.where(split_bucket(F.col(id_col), salt) < thr)


def mixture_kept_sql(
    table: str,
    group_col: str,
    weights: Dict[str, float],
    id_col: str,
    salt: str = "mix-v1",
    scale: float = 1.0,
) -> str:
    """Oracle-side membership for :func:`downsample_to_mixture`: a
    SELECT of the kept rows of ``table``, with identical integer
    thresholds over the identical md5-60 bucket (DuckDB ``//`` ==
    Spark ``div`` on the non-negative operands used here). Kept next to
    the operator so the two can never drift independently."""
    from .portable_hash import md5_60_sql

    w_int = {g: int(round(w * DENOM)) for g, w in weights.items()}
    scale_num = int(round(scale * DENOM))
    vals = ", ".join(f"('{g}', {v})" for g, v in w_int.items())
    salted = f"'{salt}' || cast(d.{id_col} as varchar)"
    bucket = f"({md5_60_sql(salted)} % {DENOM})"
    return f"""
WITH mix_w AS (SELECT * FROM (VALUES {vals}) AS v(grp, w_int)),
mix_sizes AS (SELECT {group_col} AS grp, count(*) AS sz FROM {table} GROUP BY 1),
mix_rates AS (SELECT s.grp, s.sz, w.w_int, (s.sz * {DENOM}) // w.w_int AS cand
              FROM mix_sizes s JOIN mix_w w USING (grp)),
mix_n AS (SELECT min(cand) AS nmax FROM mix_rates),
mix_thr AS (SELECT grp, (w_int * ((nmax * {scale_num}) // {DENOM})) // sz AS t
            FROM mix_rates, mix_n)
SELECT d.* FROM {table} d JOIN mix_thr ON d.{group_col} = mix_thr.grp
WHERE {bucket} < mix_thr.t
"""


def stratified_sample_exact(
    df: DataFrame,
    strata: Sequence[str],
    id_col: str,
    k: int,
    salt: str = "sample-v1",
    rank_col: str = "sample_rank",
    prefilter_margin: Optional[int] = 4,
    _threshold_num: Optional[int] = None,
) -> DataFrame:
    """EXACTLY-k-per-stratum deterministic sample: rank rows within each
    stratum by (hash bucket, id) — a stable total order — and keep rank
    <= k, emitted in ``rank_col``. Complements
    :func:`stratified_sample_cap` (hash threshold, ~k, zero data
    shuffle) when exact counts matter (eval sets, few-shot pools).

    Scale shape: a naive rank shuffles the whole corpus. Instead a
    hash-threshold prefilter (rate ~ ``prefilter_margin * k / size``,
    from one tiny size agg broadcast back) cuts each stratum to
    ~margin*k rows BEFORE the rank shuffle, so only ~margin*k rows per
    stratum ever move. Exactness is guaranteed, not probabilistic: any
    row with bucket >= t orders after every row with bucket < t, so if
    a stratum's prefilter survivor count >= min(k, size) its true top-k
    all survived; the (rare) strata where the margin was too tight are
    re-read in full and unioned back. ``prefilter_margin=None`` ranks
    the full input (the naive path, kept for parity testing).
    ``_threshold_num`` is a test hook that forces the prefilter
    threshold to exercise the fallback union."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if prefilter_margin is not None and prefilter_margin < 1:
        raise ValueError(f"prefilter_margin must be >= 1, got {prefilter_margin}")
    strata = list(strata)
    bucket = split_bucket(F.col(id_col), salt).alias("_bucket")
    pool = df.select("*", bucket)
    if prefilter_margin is not None:
        sizes = df.groupBy(*strata).agg(F.count(F.lit(1)).alias("_sz"))
        t_expr = (
            F.lit(int(_threshold_num))
            if _threshold_num is not None
            else F.least(
                F.lit(DENOM).cast("long"),
                F.expr(f"{int(prefilter_margin) * int(k) * DENOM} div _sz") + F.lit(1),
            )
        )
        thr = sizes.withColumn("_t", t_expr)
        cand = pool.join(F.broadcast(thr), strata).where(F.col("_bucket") < F.col("_t"))
        # strata whose survivor count fell under min(k, size): the margin
        # was too tight there — re-read those strata in full (typically
        # zero rows; the broadcast anti/semi joins are near-free then)
        surv = cand.groupBy(*strata).agg(F.count(F.lit(1)).alias("_surv"))
        short = (
            thr.join(surv, strata, "left")
            .where(
                F.coalesce(F.col("_surv"), F.lit(0))
                < F.least(F.lit(int(k)).cast("long"), F.col("_sz"))
            )
            .select(*strata)
        )
        pool = cand.drop("_sz", "_t").join(
            F.broadcast(short), strata, "left_anti"
        ).unionByName(pool.join(F.broadcast(short), strata, "left_semi"))
    w = Window.partitionBy(*strata).orderBy("_bucket", id_col)
    return (
        pool.withColumn(rank_col, F.row_number().over(w).cast("long"))
        .where(F.col(rank_col) <= k)
        .drop("_bucket")
    )


def global_shuffle(
    df: DataFrame,
    id_col: str,
    salt: str = "shuffle-v1",
    n_shards: int = 64,
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Deterministic content-addressed global training order: every row
    gets a (shard, pos) coordinate; reading shards in index order, each
    ordered by ``pos``, visits the corpus in a pseudorandom permutation
    that is a pure function of (salt, id) — the "shuffle the corpus
    once, write sharded files" pass at the end of a data pipeline.

    Why not orderBy(rand())? Not reproducible across re-runs or
    repartitioning, and a single global sort ranks 100 TB through one
    range partitioner. Here the order key is the md5-60 bucket: shard =
    key mod ``n_shards`` (uniform), pos = rank within shard by (key,
    id). The only exchange is the hash partition on ``shard``; each
    shard ranks independently (size n_shards to keep per-task rank
    state bounded — thousands at real scale). Same-key ties (~2^-60)
    are broken by id, so the permutation is total and stable under
    appends: new rows interleave without moving existing coordinates'
    relative order (a row's key never changes).
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    key = split_bucket(F.col(id_col), salt, denom=1 << 60)
    w = Window.partitionBy(shard_col).orderBy("_ord_key", id_col)
    return (
        df.withColumn("_ord_key", key)
        .withColumn(shard_col, F.pmod(F.col("_ord_key"), F.lit(int(n_shards))).cast("int"))
        .withColumn(pos_col, F.row_number().over(w).cast("long"))
        .drop("_ord_key")
    )
