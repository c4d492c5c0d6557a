"""Join operators Spark lacks as primitives, composed scale-first.

``asof_join`` is the canonical one: match each left row to the most
recent earlier right row per key. The naive formulation is a range
join (quadratic pair explosion per key); the scale-safe shape is a
UNION + running ``last_value`` window — one shuffle on the key, state
bounded by the window frame, no pair blowup. DuckDB's native
``ASOF JOIN`` oracle-checks the semantics (workloads q28/q44).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from arc_jupyter_spark.digest import internal_digest


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    right_value_cols: list[str] | None = None,
    strict: bool = True,
    direction: str = "backward",
    tolerance: float | None = None,
) -> DataFrame:
    """Per ``by`` key, attach to each left row the nearest right row
    at-or-before (``direction="backward"``), at-or-after
    (``"forward"``), or closest on either side (``"nearest"``, ties →
    backward) on ``on`` — the full pandas ``merge_asof`` surface,
    without its single-machine limit.

    ``strict=True`` excludes the simultaneous right row (``<`` / ``>``
    instead of ``<=`` / ``>=``). ``tolerance`` (in the units of ``on``;
    seconds when ``on`` is a timestamp) nulls out matches farther than
    the bound — the "only match within an hour" contract.

    Returns the left rows plus ``right_value_cols`` prefixed
    ``asof_`` (NULL when no matching right row exists).

    Scale shape — why this beats the per-key pair join: both sides
    union into ONE frame, ONE shuffle on ``by``, and the match is a
    running last/first-non-null window — no k×k per-key pair blowup,
    no range-join fallback. ``nearest`` adds a second in-partition
    sort (the forward pick needs the opposite tie order), still zero
    extra shuffles. This is the plan an ASOF JOIN keyword compiles to
    in engines that have one.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest: {direction!r}"
        )
    value_cols = right_value_cols or [
        c for c in right.columns if c not in (on, by)
    ]
    lrow = F.struct(*[F.col(c) for c in left.columns])
    # carry the matched row's own `on` so tolerance/nearest can see
    # the gap
    rpay = F.struct(
        *[F.col(c) for c in value_cols], F.col(on).alias("_asof_on")
    )
    lrow_type = left.select(lrow.alias("s")).schema["s"].dataType
    rpay_type = right.select(rpay.alias("s")).schema["s"].dataType

    l_side = left.select(
        F.col(by).alias("_by"),
        F.col(on).alias("_on"),
        F.lit(True).alias("_is_left"),
        lrow.alias("_lrow"),
        F.lit(None).cast(rpay_type).alias("_rpay"),
    )
    r_side = right.select(
        F.col(by).alias("_by"),
        F.col(on).alias("_on"),
        F.lit(False).alias("_is_left"),
        F.lit(None).cast(lrow_type).alias("_lrow"),
        rpay.alias("_rpay"),
    )
    unioned = l_side.unionByName(r_side)

    # numeric view of `on` for tolerance / nearest gap arithmetic.
    # Timestamps cast straight to double (fractional epoch seconds) —
    # unix_timestamp() truncates to whole seconds, which silently
    # breaks tolerance bounds and backward/forward picks at
    # millisecond resolution. Dates go through timestamp first
    # (date→double is NULL in Spark); anything else can't produce a
    # gap, so tolerance/nearest must refuse rather than silently
    # null every match / degrade to backward-only.
    from pyspark.sql import types as T

    on_dt = left.schema[on].dataType
    if isinstance(on_dt, (T.DateType, T.TimestampNTZType)):
        # neither casts straight to double; go through (session-tz)
        # timestamp — consistent across both sides, so gaps are exact
        def _num(c):
            return c.cast("timestamp").cast("double")
    elif isinstance(on_dt, (T.TimestampType, T.NumericType)):
        def _num(c):
            return c.cast("double")
    else:
        if tolerance is not None or direction == "nearest":
            raise ValueError(
                f"asof_join: tolerance/nearest need a numeric, timestamp, "
                f"or date `on` column; got {on_dt.simpleString()} for {on!r}"
            )
        def _num(c):  # unused by backward/forward without tolerance
            return c.cast("double")

    # tie order at equal _on decides whether a simultaneous right row
    # is inside the one-sided frame:
    #   backward strict     → left first  (right not in preceding)
    #   backward non-strict → right first (right in preceding)
    #   forward  strict     → right first (right not in following)
    #   forward  non-strict → left first  (right in following)
    tie = F.col("_is_left").cast("int")

    def _pick(side: str):
        left_first = strict if side == "backward" else not strict
        order_tie = -tie if left_first else tie
        if side == "backward":
            w = (
                Window.partitionBy("_by")
                .orderBy(F.col("_on"), order_tie)
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            m = F.last("_rpay", ignorenulls=True).over(w)
            gap = _num(F.col("_on")) - _num(m["_asof_on"])
        else:
            w = (
                Window.partitionBy("_by")
                .orderBy(F.col("_on"), order_tie)
                .rowsBetween(1, Window.unboundedFollowing)
            )
            m = F.first("_rpay", ignorenulls=True).over(w)
            gap = _num(m["_asof_on"]) - _num(F.col("_on"))
        if tolerance is not None:
            m = F.when(gap <= F.lit(float(tolerance)), m)
        return m, gap

    if direction == "nearest":
        mb, gb = _pick("backward")
        mf, gf = _pick("forward")
        use_fwd = mb.isNull() | (mf.isNotNull() & (gf < gb))
        asof = F.when(use_fwd, mf).otherwise(mb)
    else:
        asof, _ = _pick(direction)

    matched = unioned.withColumn("_asof", asof)
    out_cols = [F.col("_lrow")[c].alias(c) for c in left.columns]
    out_cols += [F.col("_asof")[c].alias(f"asof_{c}") for c in value_cols]
    return matched.where(F.col("_is_left")).select(*out_cols)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    salts: int = 8,
    how: str = "inner",
    salt_col: str = "_salt",
) -> DataFrame:
    """Skew-resilient equi-join: spread a hot key over ``salts`` tasks.

    Hash joins send every row of one key to one task, so a single hot
    key (the null-ish user, the boilerplate digest) caps the join at
    one core no matter how wide the cluster is. Salting restores
    parallelism deterministically:

    - FACT side: add ``pmod(xxhash64(<all columns>), salts)`` — a
      content-derived salt, so reruns partition identically (no
      ``rand()``);
    - DIM side: replicate each row ``salts`` times (explode of a
      ``sequence`` literal — map-side, no shuffle);
    - join on ``(on, salt)``; drop the salt.

    Results are exactly the plain join's (each fact row still meets
    every dim row of its key exactly once); only the shuffle layout
    changes. Cost: the dim shuffles ``salts``× — use for
    fact-skewed × modest-dim joins, and prefer AQE skew-join when the
    skew is mild enough for runtime splitting. ``how`` supports
    inner/left (fact-preserving joins; right/full would need the
    dim side deduplicated after the explode).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    fact_s = fact.withColumn(
        salt_col,
        F.pmod(
            internal_digest(*[F.col(c) for c in fact.columns]), F.lit(salts)
        ).cast("int"),
    )
    dim_s = dim.withColumn(
        salt_col, F.explode(F.sequence(F.lit(0), F.lit(salts - 1)))
    )
    return fact_s.join(dim_s, [on, salt_col], how).drop(salt_col)


def merge_upsert(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Batch MERGE (SCD1 upsert): apply a change set to a base table.

    Semantics of the classic ``MERGE INTO``:

    - change op ``delete_op`` → matching base row removed;
    - any other change op → change row replaces the base row
      (update when matched, insert when not);
    - base rows with no matching change pass through unchanged.

    ``changes`` must carry the base schema plus ``op_col`` and at most
    one row per key (the caller compacts a CDC stream first — e.g.
    ``exact_dedup`` keep-latest on the key). Composed as ONE left
    anti/semi-free full outer join on the key: at scale this is a
    single co-partitioned shuffle join of base × changes, and AQE
    handles the usual case of a small change set by broadcasting it.
    No window, no driver state; the output never materializes deleted
    rows. Mirrors DeltaLake's ``MERGE`` result (the reference gates
    Delta writes behind its DeltaLakeLoad stage; this provides the
    merge semantics engine-side).
    """
    cols = base.columns
    ch = changes.select(*cols, F.col(op_col).alias("__merge_op"))
    # collision-proof dataset aliases (a user column named "b"/"c"
    # would otherwise shadow short aliases during resolution)
    bt, ct = "__merge_base", "__merge_change"
    joined = base.alias(bt).join(ch.alias(ct), key_cols, "full_outer")
    op = F.col(f"{ct}.__merge_op")
    picked = [
        F.when(op.isNotNull(), F.col(f"{ct}.{c}"))
        .otherwise(F.col(f"{bt}.{c}"))
        .alias(c)
        if c not in key_cols
        else F.coalesce(F.col(f"{bt}.{c}"), F.col(f"{ct}.{c}")).alias(c)
        for c in cols
    ]
    return joined.where(op.isNull() | (op != delete_op)).select(*picked)


def delta_join_maintenance(
    a_old: DataFrame,
    delta_a: DataFrame,
    b_old: DataFrame,
    delta_b: DataFrame,
    on: list[str],
    broadcast_deltas: bool = True,
) -> DataFrame:
    """Rows to APPEND to a materialized join view when both inputs grow:

        Δ(A ⋈ B) = ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB

    (insert-only incremental view maintenance — the standard delta
    rule, e.g. Blakeley et al.'s counting algorithm restricted to
    inserts). The three terms are disjoint by construction (each row
    of the new join has its A-side in exactly one of {A_old, ΔA} and
    likewise for B), so a plain union is exact — no dedup needed.

    Why it matters at 100 TB: the materialized view holds A_old ⋈
    B_old; an hourly batch appends only the delta terms. With
    ``broadcast_deltas`` (deltas ≪ base tables — the normal case) the
    two mixed terms are broadcast joins over ONE scan of each base
    table and the ΔΔ term is broadcast × broadcast: the base join is
    never recomputed and nothing big shuffles.
    """
    da = F.broadcast(delta_a) if broadcast_deltas else delta_a
    db = F.broadcast(delta_b) if broadcast_deltas else delta_b
    t1 = da.join(b_old, on)
    t2 = a_old.join(db, on)
    t3 = da.join(db, on)
    cols = t1.columns
    return t1.unionByName(t2.select(*cols)).unionByName(t3.select(*cols))
