"""Skew mitigation: salted two-stage aggregation, the hot-key probe,
and the bucket-and-stitch scan behind the window-skew families.

AQE's skew-join splitting handles joins, but a groupBy on a key where
one value carries most of the rows still funnels that key's partials
into one reducer. Salting splits each key into `n_salts` sub-keys for
the first (heavy) aggregation, then combines the tiny partials — the
hot key's work spreads across n_salts tasks. Cost: a second (cheap)
shuffle over ~keys×n_salts rows.

Supported aggregates are the decomposable ones (sum/count/min/max, and
avg via sum+count) — exactly the set for which two-stage combining is
algebraically exact, so results equal the unsalted plan bit-for-bit
for integer/count aggregates (float sums may differ in rounding, same
as any partial-aggregation reorder).

Per-key window scans (sessionize, SCD2, LAG, bounded frames, as-of)
are the other exposure: a user-keyed window sorts one key's whole
history in one task, and AQE cannot split a window partition (the
adversarial-skew probe, tools/skew_probe.py, measured the plain
shapes 1.7–5.4x slower when one user owns 30% of the events). The
five family modules share two pieces from here:

- `bucket_scan` — a segmented prefix scan with a carry (Blelloch,
  "Prefix Sums and Their Applications", 1990): a local window per
  (key, bucket), a per-bucket summary, the carry computed over the
  user-keyed SUMMARY window (one row per non-empty bucket, not per
  event), and a null-safe equi-join back. Every corpus-sized exchange
  is keyed (key, bucket), which a hot key cannot flood. The local
  frame feeds both the summary and the join-back but is deliberately
  not pinned: checkpointing it was measured slower (12.2 s vs 10.4 s
  sessionize, 15.6 s vs 10.0 s SCD2, 10M events on local[32]) because
  a checkpoint writes a corpus-sized frame and erases the (key,
  bucket) partitioning the join-back reuses.
- `hot_split` — the adaptive dispatch. The whole-corpus stitch cost
  3.1x the plain shape on the sparse uniform 10M-row as-of corpus
  (its summary is corpus-sized at ~1 row per (user, bucket)), so the
  adaptive entry points send only the hot keys' rows (`hot_keys`,
  pinned per session by `hot_key_profile`) through the stitch and
  everything else through the plain single-exchange window. Every
  family scan is per key, so the split is exact; all shapes share one
  oracle per family, so dispatch changes the plan, never the answer.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Single-key share above which the adaptive entry points route a key
# through bucket-and-stitch: one task owning >10% of a window exchange
# leaves the stage latency-bound on that straggler once the cluster has
# ~10+ slots, and the gap only widens with executor count.
DEFAULT_SKEW_THRESHOLD = 0.10

_PARTIAL = {
    "sum": F.sum,
    "count": F.count,
    "min": F.min,
    "max": F.max,
}
_COMBINE = {
    "sum": F.sum,
    "count": F.sum,  # counts combine by summing
    "min": F.min,
    "max": F.max,
}


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """groupBy(keys).agg(...) with a salt stage.

    `aggs` maps output column → (fn, input column), fn in
    {sum, count, min, max, avg}. Example:

        salted_agg(events, ["user_id"],
                   {"n": ("count", "*"), "total": ("sum", "value"),
                    "avg_value": ("avg", "value")})
    """
    partial_cols: list[Column] = []
    combine_cols: list[Column] = []
    final_cols: list[Column] = []
    for out, (fn, col) in aggs.items():
        if fn == "avg":
            partial_cols += [
                F.sum(col).alias(f"__{out}_sum"),
                F.count(col).alias(f"__{out}_cnt"),
            ]
            combine_cols += [
                F.sum(f"__{out}_sum").alias(f"__{out}_sum"),
                F.sum(f"__{out}_cnt").alias(f"__{out}_cnt"),
            ]
            final_cols.append(
                (F.col(f"__{out}_sum") / F.col(f"__{out}_cnt")).alias(out)
            )
        elif fn in _PARTIAL:
            partial_cols.append(_PARTIAL[fn](col).alias(f"__{out}"))
            combine_cols.append(_COMBINE[fn](f"__{out}").alias(f"__{out}"))
            final_cols.append(F.col(f"__{out}").alias(out))
        else:
            raise ValueError(f"unsupported agg {fn!r} (decomposable only)")

    salt = (F.rand(seed=0) * n_salts).cast("int").alias("__salt")
    partial = df.withColumn("__salt", salt).groupBy(*keys, "__salt").agg(
        *partial_cols
    )
    combined = partial.groupBy(*keys).agg(*combine_cols)
    return combined.select(*keys, *final_cols)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    keys: list[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi join: salt the FACT side randomly, REPLICATE the
    dim side once per salt, join on (keys + salt). A hot join key's
    fact rows spread across n_salts tasks instead of funneling into
    one reducer; results equal the unsalted join exactly (every fact
    row still meets every matching dim row exactly once, in the salt
    replica it drew).

    When to reach for this instead of AQE's skew-join splitting
    (enabled in session.py): AQE splits a skewed SHUFFLE join at
    runtime, but a broadcast-ineligible dim joined under a
    deterministic hot key still funnels that key's rows through one
    task's shuffle write; salting spreads the JOIN work itself. It
    does NOT protect a downstream groupBy on the same bare key (the
    salt is dropped on return, so that aggregate re-shuffles on the
    unsalted key) — for grouped-aggregate skew use `salted_agg`.
    Cost: |dim| × n_salts replicated rows — only sane for
    dimension-sized right sides (for fact×fact skew, prefer AQE).

    `how` supports inner/left joins (the fact side keeps exactly its
    row multiplicity; right/full would duplicate unmatched dim rows
    per salt replica and are rejected)."""
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(
            f"salted_join supports inner/left joins, got {how!r}"
        )
    for side, df in (("fact", fact), ("dim", dim)):
        if "__salt" in df.columns:
            raise ValueError(
                f"salted_join: {side} side already has a __salt column "
                "(reserved) — rename or drop it first"
            )
    salt = (F.rand(seed=0) * n_salts).cast("int")
    salts = F.explode(
        F.sequence(F.lit(0), F.lit(n_salts - 1))
    ).alias("__salt")
    fact_s = fact.withColumn("__salt", salt)
    dim_s = dim.select("*", salts)
    return fact_s.join(dim_s, [*keys, "__salt"], how).drop("__salt")


def _hot_frame(df: DataFrame, key: str) -> DataFrame:
    """The keys of `df` whose row share exceeds DEFAULT_SKEW_THRESHOLD,
    as a one-column frame. Fewer than 1/threshold keys can each hold
    more than that share, so it has ≤ ⌈1/threshold⌉ rows no matter the
    corpus. The per-key counts are map-side combined (their shuffle
    carries |keys| slim rows, not the corpus) and evaluated twice:
    once for the total, once for the filter."""
    counts = df.groupBy(key).count()
    total = counts.agg(F.sum("count")).first()[0] or 0
    hot = counts.filter(F.col("count") > DEFAULT_SKEW_THRESHOLD * total)
    return hot.select(key)


def hot_keys(df: DataFrame, key: str = "user_id") -> list:
    """The keys whose row share exceeds DEFAULT_SKEW_THRESHOLD — the
    hot set `hot_split` routes through bucket-and-stitch."""
    return [r[key] for r in _hot_frame(df, key).collect()]


def hot_key_profile(spark, sf_dir: str, specs) -> list:
    """`hot_keys` per (table, key) as a build-once session artifact:
    the adaptive lanes probing the same table pay one probe pass per
    session, then a memo hit plus a ≤⌈1/threshold⌉-row collect.

    `specs` is ("table", "key_col") or a sequence of such pairs; a
    sequence unions the key columns before counting (the as-of join
    probes events.user_id ∪ orders.o_custkey, because its plain
    window sorts the merged per-user timeline). Dispatch cannot change
    answers, so memoizing the probe can only change plans."""
    from ..tables import table as _table
    from ..util import artifact

    # Discriminate the scalar shape by ELEMENT type, not container
    # type: a tuple-of-tuples spec (("events","user_id"),("orders",
    # "o_custkey")) must union the axes, not be wrapped as one spec
    # and fail deep inside _table with a confusing error.
    if specs and isinstance(specs[0], str):
        specs = [specs]
    specs = [tuple(s) for s in specs]
    if not specs or not all(
        len(s) == 2 and all(isinstance(p, str) for p in s) for s in specs
    ):
        raise ValueError(
            "specs must be ('table', 'key_col') or a sequence of such "
            f"pairs, got {specs!r}"
        )
    memo_key = (
        "hotkeys:"
        + "+".join(f"{t}.{c}" for t, c in specs)
        + f":{DEFAULT_SKEW_THRESHOLD}:{sf_dir}"
    )

    def build():
        parts = [
            _table(spark, sf_dir, t).select(F.col(c).alias("k")) for t, c in specs
        ]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return _hot_frame(u, "k")

    return [r["k"] for r in artifact(spark, memo_key, build).collect()]


Cut = Callable[[DataFrame, str], DataFrame]


def hot_split(
    plain: Callable[[Cut], DataFrame],
    bucketed: Callable[[Cut], DataFrame],
    hot: list,
) -> DataFrame:
    """The hot/cold dispatch: `plain(cut)` over the cold keys' rows
    unioned with `bucketed(cut)` over the hot keys' rows. Each shape
    applies `cut(frame, key_col)` to every input it reads. With no hot
    key, `cut` is the identity and only the plain shape runs. NULL keys
    are cold: the plain window keeps them as their own partition."""
    if not hot:
        return plain(lambda df, key: df)
    is_hot = lambda key: F.coalesce(F.col(key).isin(hot), F.lit(False))  # noqa: E731
    cold = plain(lambda df, key: df.filter(~is_hot(key)))
    return cold.unionByName(bucketed(lambda df, key: df.filter(is_hot(key))))


def bucket_scan(
    df: DataFrame,
    key: str,
    bucket: Column,
    order: list[str],
    local: Callable[[Window], dict[str, Column]],
    summary: list[Column],
    carry: Callable[[Window], dict[str, Column]],
    summarize_local: bool = False,
    null_safe_bucket: bool = True,
) -> DataFrame:
    """Bucket-and-stitch scan of `df` per `key` in `order`.

    1. `__b` = `bucket`; `local(w)` adds columns over the (key, __b)
       window ordered by `order`.
    2. `summary` aggregates one row per (key, __b), from the local
       frame when `summarize_local` (the summary needs window columns)
       or else from the input, where it is map-side combined.
    3. `carry(w)` adds columns over the summary, with `w` the user-keyed
       window ordered by __b; consecutive summary rows are the key's
       consecutive non-empty buckets.
    4. The carry columns join back onto the local frame on
       (key, __b), null-safe on the key (the plain window keeps NULL
       keys as their own partition) and on __b unless
       `null_safe_bucket` is off for a grid key that is never NULL.

    Returns the local frame's columns plus the carry columns."""
    e = df.withColumn("__b", bucket)
    loc = e
    for name, col in local(Window.partitionBy(key, "__b").orderBy(*order)).items():
        loc = loc.withColumn(name, col)
    summ = (loc if summarize_local else e).groupBy(key, "__b").agg(*summary)
    cols = carry(Window.partitionBy(key).orderBy("__b"))
    for name, col in cols.items():
        summ = summ.withColumn(name, col)
    st = summ.select(
        F.col(key).alias("__sk"), F.col("__b").alias("__sb"), *cols
    )
    on_b = (
        F.col("__b").eqNullSafe(F.col("__sb"))
        if null_safe_bucket
        else F.col("__b") == F.col("__sb")
    )
    return loc.join(st, F.col(key).eqNullSafe(F.col("__sk")) & on_b).drop(
        "__sk", "__sb"
    )
