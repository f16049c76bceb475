"""Deterministic sampling operators for corpus curation.

Complements the rate-based stratified downsampling already in the
catalog (t06: keep X% of each stratum): these are the COUNT-exact
samplers a training-data pipeline needs when the deliverable is "exactly
N documents, mixed 60/30/10 across domains" rather than "roughly X% of
each".

Everything is deterministic by construction — randomness comes from
``xxhash64(id, seed)``, a pure function of the row — so re-running on a
different cluster size, partitioning, or engine version selects the
SAME rows (Spark's ``sample``/``sampleBy``/``rand`` are partition-order
dependent and unsuitable for reproducible corpus builds).

No counterpart anywhere in the reference (its pipeline ships whole
months; ``/root/reference/data/airflow/dags/save_nyc_data_to_s3.py``
has no sampling of any kind).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import local_frame

# xxhash64 output folded into (0, 1): |h| / 2^63 lands in [0, 1); the
# +1/+2 shift keeps the endpoints open so ln(u) below is always finite.
_M = float(1 << 63)


def _hash_uniform(id_col: str, seed: int):
    h = F.abs(F.xxhash64(F.col(id_col), F.lit(seed)))
    return (h.cast("double") + F.lit(1.0)) / F.lit(_M + 2.0)


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str,
    seed: int = 0,
    take_ordered_limit: int = 100_000,
) -> DataFrame:
    """Weighted random sample WITHOUT replacement of exactly ``k`` rows
    (fewer iff the input is smaller): Efraimidis–Spirakis A-ES — each
    row draws ``u`` from its id hash and scores ``ln(u) / w``; the k
    largest scores win. Inclusion probability is proportional to
    ``weight_col`` (quality scores, dedup-cluster sizes, domain boosts).

    Scale shape, by ``k``:

    - ``k <= take_ordered_limit``: ``orderBy(score desc).limit(k)`` —
      Spark plans TakeOrdered: each partition keeps its local top-k and
      only ``partitions x k`` candidate rows reach the driver-side
      merge; no global sort, no full shuffle.
    - larger ``k`` (sampling 100M docs from 1B, where TakeOrdered's
      driver merge would hold k rows): exact threshold-band selection.
      An approx quantile puts a score threshold ``t`` near the k-th
      largest; rows strictly above ``t`` are in (distributed filter, no
      shuffle), and only the BAND of rows at/near the threshold — sized
      by the quantile error, a tiny fraction of n — goes through a
      TakeOrdered to top up to exactly k. Same result as the small-k
      path (same scores, deterministic tie-break), never more than
      ``band`` rows on the driver.

    Non-positive weights are excluded (ln(u)/w flips sign), matching
    the "weight 0 = never sample" contract.
    """
    u = _hash_uniform(id_col, seed)
    w = F.col(weight_col).cast("double")
    score = F.log(u) / w
    scored = df.where(w > 0).withColumn("_score", score)

    if k <= take_ordered_limit:
        return (
            scored.orderBy(F.col("_score").desc(), F.col(id_col))
            .limit(k)
            .drop("_score")
        )

    n = scored.count()
    if n <= k:
        return scored.drop("_score")
    # approx k-th-largest score: quantile at 1 - k/n with a relative
    # error that bounds the band to ~0.1% of n
    eps = 0.0005
    [t] = scored.stat.approxQuantile("_score", [1.0 - k / n], eps)
    sure = scored.where(F.col("_score") > t)
    n_sure = sure.count()
    if n_sure > k:
        # threshold landed low (error toward too-permissive): the top-k
        # all live inside `sure` (~k + eps*n rows), so re-trim against
        # that much smaller population
        scored = sure
        [t] = scored.stat.approxQuantile("_score", [1.0 - k / n_sure], eps)
        sure = scored.where(F.col("_score") > t)
        n_sure = sure.count()
        if n_sure > k:  # adversarially heavy ties at t — fall back
            return (
                scored.orderBy(F.col("_score").desc(), F.col(id_col))
                .limit(k)
                .drop("_score")
            )
    band_take = (
        scored.where(F.col("_score") <= t)
        .orderBy(F.col("_score").desc(), F.col(id_col))
        .limit(k - n_sure)
    )
    return sure.unionByName(band_take).drop("_score")


def apportion(weights: dict[str, float], n_total: int) -> dict[str, int]:
    """Largest-remainder apportionment of ``n_total`` slots across
    domains proportional to ``weights`` — the exact integer split whose
    counts sum to ``n_total`` (plain rounding can be off by several).
    Driver-side arithmetic over the tiny domain map."""
    total_w = sum(weights.values())
    if total_w <= 0:
        raise ValueError("mixture weights must sum to a positive value")
    quotas = {d: n_total * w / total_w for d, w in weights.items()}
    counts = {d: int(q) for d, q in quotas.items()}
    leftover = n_total - sum(counts.values())
    by_remainder = sorted(
        quotas, key=lambda d: (quotas[d] - counts[d], d), reverse=True
    )
    for d in by_remainder[:leftover]:
        counts[d] += 1
    return counts


def _smallest_u_exact(scored: DataFrame, k: int, id_col: str) -> DataFrame:
    """Exactly the k rows with the smallest ``(_u, id)`` — distributed,
    never more than a quantile-error band through a driver-side merge:
    an approx quantile puts a threshold near the k-th smallest ``_u``;
    rows strictly below are in (plain filter), and only the boundary
    band tops up through a TakeOrdered. Same selection as
    ``orderBy(_u, id).limit(k)`` at any k."""
    n = scored.count()
    if n <= k:
        return scored
    eps = 0.0005
    [t] = scored.stat.approxQuantile("_u", [k / n], eps)
    sure = scored.where(F.col("_u") < t)
    n_sure = sure.count()
    if n_sure > k:
        scored = sure
        [t] = scored.stat.approxQuantile("_u", [k / n_sure], eps)
        sure = scored.where(F.col("_u") < t)
        n_sure = sure.count()
        if n_sure > k:  # heavy ties at t (impossible for hash-uniform _u)
            return scored.orderBy("_u", id_col).limit(k)
    band_take = (
        scored.where(F.col("_u") >= t).orderBy("_u", id_col).limit(k - n_sure)
    )
    return sure.unionByName(band_take)


def mixture_sample(
    df: DataFrame,
    domain_col: str,
    weights: dict[str, float],
    n_total: int,
    id_col: str,
    seed: int = 0,
    salt_partitions: int = 32,
    window_quota_limit: int = 100_000,
) -> DataFrame:
    """Exactly ``n_total`` rows mixed across domains per ``weights``
    (e.g. ``{"web": 6, "code": 3, "books": 1}`` → 60/30/10): the
    training-mixture materialization step. Per-domain quotas come from
    ``apportion``; within a domain, selection is the deterministic
    hash order (uniform — combine with ``weighted_sample`` upstream for
    quality-weighted picks). Domains absent from ``weights`` are
    dropped; a domain smaller than its quota contributes everything it
    has (the shortfall is NOT redistributed — mixtures are contracts,
    silently substituting domains would corrupt them).

    Scale shape, by quota size (both paths select the identical rows —
    the k smallest ``(_u, id)`` per domain):

    - all quotas ≤ ``window_quota_limit``: one-pass two-phase top-k.
      Phase 1 ranks within ``(domain, hash % salt_partitions)`` —
      uniform tasks — and keeps each salt's local top-quota, capping
      phase 2's input at ``salt_partitions x quota`` rows per domain;
      phase 2 ranks those survivors per domain. Two window shuffles,
      no driver involvement.
    - any quota larger (100M-row quotas would funnel phase 2's
      one-task-per-domain window): per-domain exact threshold-band
      selection (``_smallest_u_exact``), looped over the domain list —
      metadata-sized by definition, a mixture config is human-written —
      with each step fully distributed.
    """
    quota_map = apportion(weights, n_total)
    u = _hash_uniform(id_col, seed)

    if max(quota_map.values(), default=0) > window_quota_limit:
        parts = []
        for d, q in sorted(quota_map.items()):
            if q == 0:
                continue
            dom = df.where(F.col(domain_col) == d).withColumn("_u", u)
            parts.append(_smallest_u_exact(dom, q, id_col))
        if not parts:
            return df.where(F.lit(False))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select(*df.columns)

    quota_rows = [(d, int(q)) for d, q in quota_map.items()]
    quotas = F.broadcast(
        local_frame(df.sparkSession, quota_rows, f"{domain_col} string, _quota int")
    )
    salted = (
        df.join(quotas, domain_col)
        .withColumn("_u", u)
        .withColumn("_salt", F.pmod(F.xxhash64(F.col(id_col), F.lit(seed + 1)), F.lit(salt_partitions)))
    )
    w1 = Window.partitionBy(domain_col, "_salt").orderBy("_u", id_col)
    phase1 = salted.withColumn("_rn", F.row_number().over(w1)).where(
        F.col("_rn") <= F.col("_quota")
    )
    w2 = Window.partitionBy(domain_col).orderBy("_u", id_col)
    return (
        phase1.withColumn("_rn2", F.row_number().over(w2))
        .where(F.col("_rn2") <= F.col("_quota"))
        .select(*df.columns)
    )
