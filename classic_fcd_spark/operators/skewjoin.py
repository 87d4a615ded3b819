"""Salted join: explicit hot-key skew handling for fact x dim joins.

AQE's skew-join splitting (on in the session, SURVEY §4) repairs skew
for shuffled sort-merge joins AFTER a stage materializes — but it
cannot help when the skewed side must shuffle into single oversized
partitions first, and it does nothing for deliberately-partitioned
pipelines that avoid AQE re-planning.  The classic explicit fix: SALT
the hot keys — fact rows of a hot key scatter across S sub-keys, the
dim row for that key is REPLICATED S times, and the join runs on
(key, salt) with no partition larger than hot_count/S.

Cost model: |dim| grows by (S-1) x |hot keys| rows (tiny — hot keys are
by definition few), the fact side gains one pmod(hash) projection, and
the shuffle becomes balanced.  Non-hot keys keep salt 0 on both sides —
no replication, no extra rows.

Hot keys come from the caller (a heavy-hitters pass — see
operators/heavyhitters.py — or prior knowledge); detection and repair
stay separable, as in every production skew recipe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    hot_keys: list,
    salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """fact ⋈ dim on `key`, with rows of `hot_keys` spread over `salts`
    sub-partitions.  Exactly the rows of the plain join (parity asserted
    in tests); dim columns must not collide with fact columns (standard
    join hygiene).  `how` is 'inner' or 'left'."""
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner or left, got {how!r}")
    hot = F.array(*[F.lit(k) for k in hot_keys])
    f_salt = F.when(
        F.array_contains(hot, F.col(key)),
        F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(salts)),
    ).otherwise(F.lit(0))
    fact_s = fact.withColumn("__salt", f_salt.cast("int"))
    # replicate dim rows S times for hot keys, once (salt 0) otherwise
    d_salts = F.when(
        F.array_contains(hot, F.col(key)),
        F.sequence(F.lit(0), F.lit(salts - 1)),
    ).otherwise(F.array(F.lit(0)))
    dim_s = (
        dim.withColumn("__salts", d_salts)
        .withColumn("__salt", F.explode("__salts"))
        .withColumn("__salt", F.col("__salt").cast("int"))
        .drop("__salts")
    )
    return fact_s.join(dim_s, [key, "__salt"], how).drop("__salt")


def detect_hot_keys(
    fact: DataFrame,
    key: str,
    min_share: float = 0.05,
    capacity: int = 1024,
) -> list:
    """Hot keys of `fact[key]`: the Misra-Gries heavy-hitters pass
    (operators/heavyhitters.approx_top_items — exact counts for the
    survivors) filtered to keys holding more than `min_share` of all
    rows.  min_share >= 1/capacity keeps the MG completeness guarantee:
    any key above N/capacity survives the candidate pass, so no key
    above min_share can be missed.  Cost: one Arrow-batched scan + one
    bounded recount — the standard detection half of the skew recipe."""
    if min_share < 1.0 / capacity:
        raise ValueError(
            f"min_share {min_share} below the MG guarantee 1/capacity "
            f"({1.0 / capacity}); raise capacity or min_share"
        )
    from classic_fcd_spark.operators.heavyhitters import approx_top_items

    total = fact.count()
    top = approx_top_items(
        fact.select(key), key, k=capacity, capacity=capacity
    ).collect()
    return [r["item"] for r in top if r["cnt"] > min_share * total]


def auto_salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salts: int = 8,
    how: str = "inner",
    min_share: float = 0.05,
    capacity: int = 1024,
    memo_key: str | None = None,
) -> DataFrame:
    """detect_hot_keys → salted_join in one call: the gated composition
    of detection and repair (the two halves are also usable separately
    when the hot set is known a priori).  detect_hot_keys casts keys to
    string (the MG item type); they are matched back against the
    fact/dim key column by equality, so the key column must round-trip
    its string form — only integer and string keys do (floats round,
    decimals/dates re-format), so other dtypes are rejected rather than
    silently no-opping the repair.  A NULL key that is hot is dropped
    from the hot list: NULLs never equi-join, so salting them buys
    nothing (filter them or use a null-splitting union instead).
    With NO hot key above min_share this degenerates to the plain join
    (every row salts to 0, the dim is not replicated).

    `memo_key` (r15): the detected hot-key list — a pure function of the
    fact corpus and a plan-shape decision, the same class as the dedup
    family's duplicate-mass probes — is memoized per (session, memo_key),
    so steady-state calls skip the count + Misra-Gries detection jobs."""
    kt = dict(fact.dtypes)[key]
    int_types = ("bigint", "int", "smallint", "tinyint")
    if kt not in int_types and kt != "string":
        raise ValueError(
            f"auto_salted_join supports int/string keys; {key} is {kt} "
            "(its string form does not round-trip MG detection) — "
            "detect hot keys yourself and call salted_join directly"
        )

    def _detect():
        found = [
            h for h in detect_hot_keys(fact, key, min_share, capacity) if h is not None
        ]
        return [int(h) for h in found] if kt in int_types else found

    from classic_fcd_spark.session import session_memo

    hot = session_memo(
        fact.sparkSession,
        None if memo_key is None
        else f"skewjoin:hot|{key}|{min_share}|{capacity}|{memo_key}",
        _detect,
    )
    if not hot:
        return fact.join(dim, key, how)
    return salted_join(fact, dim, key, hot, salts=salts, how=how)
