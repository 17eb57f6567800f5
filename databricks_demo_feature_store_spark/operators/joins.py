"""Join operators: equi-join, point-in-time (as-of) join, anti-join, month spine.

Parity targets in the reference:

- ``make_join`` — ``src/packages/preprocessing/merge_tables/joins.py:11-112``
- ``point_in_time_join`` — ``joins.py:115-238``
- ``exclude_ids_leftjoin`` — ``joins.py:241-268``
- month-spine cross join — ``notebooks/development/fs_cus_demographic.py:64-113``
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, Window, functions as F


def make_join(
    df_left: DataFrame,
    df_right: DataFrame,
    left_keys: Sequence[str],
    right_keys: Sequence[str] | None = None,
    how: str = "inner",
    drop_na: bool = False,
    broadcast_right: bool = False,
) -> DataFrame:
    """Equi-join with different-named keys and left-wins duplicate resolution.

    Semantics of the reference's ``make_join`` (``joins.py:11-112``):
    right-side keys are renamed to the left names (:79-87); non-key columns
    present on both sides are kept from the *left* only (:89-94); optional
    ``dropna()`` afterwards (:106-108). Unlike the reference we never run an
    eager ``count()`` for logging, and we expose ``broadcast_right`` for
    small dimension tables (Catalyst auto-broadcasts below the threshold,
    but an explicit hint is free insurance for dims we *know* are small).
    """
    right_keys = list(right_keys or left_keys)
    left_keys = list(left_keys)
    if len(left_keys) != len(right_keys):
        raise ValueError("left_keys and right_keys must have equal length")

    renames = {r: l for r, l in zip(right_keys, left_keys) if r != l}
    if renames:
        df_right = df_right.withColumnsRenamed(renames)

    dup_cols = [
        c for c in df_right.columns if c in df_left.columns and c not in left_keys
    ]
    if dup_cols:
        df_right = df_right.drop(*dup_cols)

    if broadcast_right:
        df_right = F.broadcast(df_right)

    joined = df_left.join(df_right, on=left_keys, how=how)
    if drop_na:
        joined = joined.dropna()
    return joined


def _asof_carry(
    df_spine: DataFrame,
    lookups: Sequence[tuple],
    keys: Sequence[str],
    spine_time: str,
    direction: str = "backward",
    matched_time_col: str | None = None,
) -> DataFrame:
    """The one as-of carry behind :func:`point_in_time_join`,
    :func:`point_in_time_multi_join` and :func:`asof_join`.

    ``lookups`` holds ``(features, feature_time, feature_cols,
    tolerance_expr, tiebreak)`` tuples. The spine and every lookup are
    tagged into ONE ``unionByName`` on ``(keys, __t)``; each lookup's
    payload travels as its own struct slot, so the rows move through one
    exchange on ``keys`` whatever the number of lookups. One window sort
    per direction carries every slot with ``last(ignorenulls)`` — the
    latest feature ROW wins whole (per-column carries would stitch values
    from different rows whenever a newer value is legitimately NULL), and
    slots carry independently of each other. The backward window orders
    by ``__t`` ascending, the forward one descending; in both, feature
    rows sort before spine rows at equal time (the reference's inclusive
    ``>=``, ``joins.py:213-215``), then by the lookup's ``tiebreak``
    columns, nulls first (the last one wins the carry).

    ``tolerance_expr`` bounds the match distance on each side before the
    ``"nearest"`` pick, whose exact ties go backward.
    ``matched_time_col`` emits the matched feature time of the last
    lookup (:func:`asof_join` passes one). Output: keys, spine time, the
    spine's other columns, then each lookup's feature columns in order.
    A feature column named like a spine column, a key, the spine time,
    another lookup's column or the matched-time column raises — the
    output would otherwise carry a duplicate, ambiguous name.
    """
    keys = list(keys)
    spine_cols = [c for c in df_spine.columns if c not in keys and c != spine_time]
    sides = [
        df_spine.select(
            *keys,
            F.col(spine_time).cast("timestamp").alias("__t"),
            F.lit(1).alias("__is_spine"),
            F.struct(spine_time, *spine_cols).alias("__spine_payload"),
        )
    ]
    looks, tiebreak_cols, names = [], [], []
    for i, (features, ftime, fcols, tol, tiebreak) in enumerate(lookups):
        if fcols is None:
            fcols = [c for c in features.columns if c not in keys and c != ftime]
        fcols = list(fcols)
        names += fcols
        tbs = [f"__tb{i}_{j}" for j in range(len(tiebreak))]
        tiebreak_cols += tbs
        looks.append((f"__feat{i}", fcols, tol))
        sides.append(
            features.select(
                *keys,
                F.col(ftime).cast("timestamp").alias("__t"),
                F.lit(0).alias("__is_spine"),
                F.struct(F.col(ftime).cast("timestamp").alias("__ft"), *fcols).alias(
                    f"__feat{i}"
                ),
                *[F.col(c).alias(tb) for c, tb in zip(tiebreak, tbs)],
            )
        )
    seen = set(df_spine.columns) | set(keys) | {spine_time}
    for c in names + ([matched_time_col] if matched_time_col else []):
        if c in seen:
            raise ValueError(
                f"as-of join: output column {c!r} collides with the spine's "
                "columns/keys, another lookup or the matched-time column — "
                "rename before joining"
            )
        seen.add(c)
    unioned = sides[0]
    for side in sides[1:]:
        unioned = unioned.unionByName(side, allowMissingColumns=True)

    dirs = ("backward", "forward") if direction == "nearest" else (direction,)

    def window(d: str):
        t = F.col("__t").asc() if d == "backward" else F.col("__t").desc()
        return (
            Window.partitionBy(*keys)
            .orderBy(
                t,
                F.col("__is_spine").asc(),
                *[F.col(tb).asc_nulls_first() for tb in tiebreak_cols],
            )
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )

    carried = unioned.select(
        *keys,
        "__is_spine",
        "__spine_payload",
        *[
            F.last(slot, ignorenulls=True).over(window(d)).alias(f"{slot}_{d}")
            for d in dirs
            for slot, _fcols, _tol in looks
        ],
    ).filter(F.col("__is_spine") == 1)

    st = F.col("__spine_payload").getField(spine_time).cast("timestamp")
    out = [
        *keys,
        F.col("__spine_payload").getField(spine_time).alias(spine_time),
        *[F.col("__spine_payload").getField(c).alias(c) for c in spine_cols],
    ]
    for slot, fcols, tol in looks:
        side = {}
        for d in dirs:
            side[d] = F.col(f"{slot}_{d}")
            if tol is not None:
                ft = side[d].getField("__ft")
                too_far = (
                    ft < st - F.expr(tol) if d == "backward" else ft > st + F.expr(tol)
                )
                side[d] = F.when(too_far, F.lit(None)).otherwise(side[d])
        if direction == "nearest":
            back, fwd = side["backward"], side["forward"]
            d_back = F.unix_micros(st) - F.unix_micros(back.getField("__ft"))
            d_fwd = F.unix_micros(fwd.getField("__ft")) - F.unix_micros(st)
            chosen = (
                F.when(back.isNull(), fwd)
                .when(fwd.isNull(), back)
                .when(d_back <= d_fwd, back)  # exact tie -> backward
                .otherwise(fwd)
            )
        else:
            chosen = side[direction]
        out += [chosen.getField(c).alias(c) for c in fcols]
    if matched_time_col is not None:
        out.append(chosen.getField("__ft").alias(matched_time_col))
    return carried.select(*out)


def point_in_time_join(
    df_spine: DataFrame,
    df_features: DataFrame,
    keys: Sequence[str],
    spine_time: str,
    feature_time: str,
    feature_cols: Sequence[str] | None = None,
    tolerance_expr: str | None = None,
    feature_tiebreak: Sequence[str] = (),
) -> DataFrame:
    """As-of join: latest feature row at-or-before each spine timestamp.

    Matches the reference's ``point_in_time_join`` (``joins.py:115-238``):
    left join on ``spine.time >= feature.time AND keys equal`` (:213-215),
    then ``row_number()`` over ``partitionBy(keys + spine_time)
    .orderBy(feature_time DESC)`` keeping ``row_num == 1 OR row_num IS
    NULL`` (:229-236) so unmatched spine rows survive with NULL features.

    Scale note: the raw ``>=`` theta join is quadratic per key for long
    histories. This rides the linear union + ``last(ignorenulls)`` carry
    (:func:`_asof_carry`): one shuffle on ``keys``, strictly linear in
    rows — it survives a 100× scale-up where the theta join would
    explode. Ties (feature_time == spine_time) resolve to the feature
    row, matching the reference's ``>=``.

    ``tolerance_expr`` (e.g. ``"INTERVAL 90 DAYS"``) optionally discards
    matches older than ``spine_time - tolerance``.

    ``feature_tiebreak`` orders feature rows that share the same
    ``feature_time`` (ascending; the LAST one wins the carry) — this
    makes the result deterministic without a pre-dedup window pass when
    the feature table can hold several rows per (key, time).
    """
    return _asof_carry(
        df_spine,
        [(df_features, feature_time, feature_cols, tolerance_expr, list(feature_tiebreak))],
        keys,
        spine_time,
    )


def point_in_time_multi_join(
    df_spine: DataFrame,
    lookups: Sequence[Mapping],
    keys: Sequence[str],
    spine_time: str,
) -> DataFrame:
    """As-of join of MANY feature tables that share the same lookup
    ``keys`` in ONE shuffle — the N-table generalization of
    :func:`point_in_time_join`.

    Each entry of ``lookups`` is a mapping with:

    - ``features``: the feature DataFrame
    - ``feature_time``: its as-of timestamp column
    - ``feature_cols`` (optional): payload columns (default: all non-key,
      non-time columns)
    - ``tolerance_expr`` (optional): e.g. ``"INTERVAL 90 DAYS"`` — matches
      older than ``spine_time - tolerance`` are NULLed for that lookup

    Scale shape: a chain of single-table joins shuffles the
    (progressively wider) spine once PER TABLE. Here every table is a
    slot of the one carry (:func:`_asof_carry`) — whole-row atomicity per
    table, independent carries across tables — so the spine moves
    through exactly ONE exchange regardless of N: at 100 TB with a
    5-table training set that is 5× less spine shuffle I/O.

    Ties (feature_time == spine_time) resolve to the feature row,
    matching the reference's ``>=`` (``joins.py:213-215``). Payload
    column names must be disjoint across lookups and from the spine's
    columns (validated).
    """
    return _asof_carry(
        df_spine,
        [
            (lk["features"], lk["feature_time"], lk.get("feature_cols"),
             lk.get("tolerance_expr"), ())
            for lk in lookups
        ],
        keys,
        spine_time,
    )


def exclude_ids_anti_join(
    df: DataFrame,
    df_exclude: DataFrame,
    keys: Sequence[str],
    exclude_keys: Sequence[str] | None = None,
) -> DataFrame:
    """Drop rows whose keys appear in the exclusion DataFrame.

    Reference: ``exclude_ids_leftjoin`` (``joins.py:241-268``) — distinct
    exclusion keys then ``how="leftanti"`` (:265-266). The ``distinct()`` is
    unnecessary for correctness of an anti-join; we skip it and let Spark
    build the hash set directly (one less shuffle).
    """
    exclude_keys = list(exclude_keys or keys)
    keys = list(keys)
    renames = {e: k for e, k in zip(exclude_keys, keys) if e != k}
    right = df_exclude.select(*exclude_keys)
    if renames:
        right = right.withColumnsRenamed(renames)
    return df.join(right, on=keys, how="left_anti")


def month_spine(
    df_entities: DataFrame,
    entity_keys: Sequence[str],
    start_date: str,
    end_date: str,
    date_col: str = "release_dt",
    open_date_col: str | None = None,
) -> DataFrame:
    """Month-start spine cross-joined to entities.

    The reference builds the month range in driver-side pandas then
    ``CROSS JOIN``s it (``fs_cus_demographic.py:64-113``). We generate the
    range distributed with ``sequence()`` + ``explode`` (no driver work) and
    broadcast the tiny month dim into the cross join. The optional
    ``open_date_col`` filter reproduces the
    ``release_dt >= fecha_apertura`` predicate (:109-113).
    """
    months = (
        df_entities.sparkSession.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.trunc(F.lit(start_date).cast("date"), "month"),
                    F.trunc(F.lit(end_date).cast("date"), "month"),
                    F.expr("INTERVAL 1 MONTH"),
                )
            ).alias(date_col)
        )
    )
    spine = df_entities.select(*entity_keys, *( [open_date_col] if open_date_col else [] )).distinct()
    out = spine.crossJoin(F.broadcast(months))
    if open_date_col:
        out = out.filter(F.col(date_col) >= F.trunc(F.col(open_date_col), "month"))
    return out


def salted_join(
    df_big: DataFrame,
    df_small: DataFrame,
    keys: Sequence[str],
    how: str = "inner",
    salt_buckets: int = 16,
    salt_source: str | None = None,
) -> DataFrame:
    """Equi-join with deterministic key salting for skewed hot keys.

    AQE's skew-join split handles most skew at runtime
    (``spark.sql.adaptive.skewJoin.enabled``); this explicit form is for
    the pathological case AQE can't fix — one reducer key so hot its
    single partition exceeds memory even after splitting. The big side
    gets ``salt = pmod(xxhash64(salt_source or all columns), buckets)``;
    the small side is exploded ``buckets``× (size multiplier — keep the
    small side genuinely small) so every (key, salt) pair matches.
    Deterministic (hash-derived, no rand()), so results are reproducible
    run to run.

    Only ``inner`` and ``left`` joins are supported: the exploded small
    side would emit unmatched right/full-outer rows once per salt bucket.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports how in {{'inner', 'left'}}, got {how!r}: "
            "the exploded small side duplicates unmatched right-side rows"
        )
    keys = list(keys)
    salt_cols = (
        [F.col(salt_source)] if salt_source else [F.col(c) for c in df_big.columns]
    )
    big = df_big.withColumn(
        "__salt", F.pmod(F.xxhash64(*salt_cols), F.lit(salt_buckets)).cast("int")
    )
    small = df_small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    return big.join(small, on=keys + ["__salt"], how=how).drop("__salt")


def interval_join(
    df_left: DataFrame,
    df_right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    lower_seconds: float = 0.0,
    upper_seconds: float = 3600.0,
) -> DataFrame:
    """Range (interval) join: pairs where ``right_ts`` falls inside
    ``[left_ts + lower, left_ts + upper]``, equi-matched on ``keys``.

    Net-new vs the reference (its only temporal join is the PIT as-of,
    ``src/packages/preprocessing/merge_tables/joins.py:115-238``); this is
    the bounded-window companion (event attribution, feature windows).

    Scale design — the naive formulation is a theta join (per-key cross
    product then range filter), quadratic in rows per key. Instead the
    time axis is bucketed by the window width: each right row lands in
    exactly ONE bucket, each left row explodes to the (at most two)
    buckets its window can touch, and the join becomes a pure equi-join
    on ``keys + [bucket]`` — hash-partitioned, AQE-splittable, no
    per-key cross product. The exact range predicate then prunes the
    bucket-coarse candidates; bucket membership is unique per right row
    so no post-join dedup is needed.
    """
    if upper_seconds < lower_seconds:
        raise ValueError("upper_seconds must be >= lower_seconds")
    if left_ts == right_ts:
        # The post-join range predicate references both timestamp columns
        # by name; identical names would resolve ambiguously after the join
        # (the streaming twin documents the same requirement).
        raise ValueError(
            "interval_join requires distinct timestamp column names; "
            f"rename one side (both are {left_ts!r})"
        )
    keys = list(keys)
    lower_us = int(lower_seconds * 1_000_000)
    upper_us = int(upper_seconds * 1_000_000)
    width_us = max(upper_us - lower_us, 1)

    l_us = F.unix_micros(F.col(left_ts))
    r_us = F.unix_micros(F.col(right_ts))
    left = df_left.withColumn(
        "__bkt",
        F.explode(
            F.sequence(
                F.floor((l_us + F.lit(lower_us)) / F.lit(width_us)),
                F.floor((l_us + F.lit(upper_us)) / F.lit(width_us)),
            )
        ),
    )
    right = df_right.withColumn("__bkt", F.floor(r_us / F.lit(width_us)))
    return (
        left.join(right, on=keys + ["__bkt"], how="inner")
        .where(
            (r_us >= l_us + F.lit(lower_us)) & (r_us <= l_us + F.lit(upper_us))
        )
        .drop("__bkt")
    )


def asof_join(
    df_spine: DataFrame,
    df_features: DataFrame,
    keys: Sequence[str],
    spine_time: str,
    feature_time: str,
    direction: str = "backward",
    feature_cols: Sequence[str] | None = None,
    tolerance_expr: str | None = None,
    matched_time_col: str | None = None,
) -> DataFrame:
    """Direction-aware as-of join — the pandas ``merge_asof`` surface on
    the engine's linear union+carry (:func:`_asof_carry`).

    ``direction``:

    - ``"backward"``: latest feature row at-or-before the spine time
      (the :func:`point_in_time_join` semantics).
    - ``"forward"``: EARLIEST feature row at-or-after the spine time
      (the mirror carry: same one-shuffle union, window ordered time-
      DESCENDING so the next-following feature row flows backward to
      each spine row).
    - ``"nearest"``: whichever of the two is closer in absolute time;
      exact ties resolve to the backward match (deterministic). Both
      carries come out of ONE union and ONE exchange — the two window
      sorts share the same hash partitioning, so the spine still moves
      through a single shuffle.

    ``tolerance_expr`` (e.g. ``"INTERVAL 2 HOURS"``) bounds the match
    distance on EACH side before the nearest choice is made — an
    out-of-tolerance backward match never shadows an in-tolerance
    forward match. Unmatched spine rows keep NULL features.
    ``matched_time_col`` optionally emits the matched feature timestamp.

    Determinism contract: (keys, feature_time) must be unique in the
    feature table (several feature rows at one instant would make the
    carried row order-dependent) — same contract as ``merge_asof`` needs
    for reproducibility; pre-dedup with a tiebreak when in doubt.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )
    return _asof_carry(
        df_spine,
        [(df_features, feature_time, feature_cols, tolerance_expr, ())],
        keys,
        spine_time,
        direction=direction,
        matched_time_col=matched_time_col,
    )


def scd2_dim_join(
    df_facts: DataFrame,
    df_dim: DataFrame,
    keys: Sequence[str],
    fact_time: str,
    valid_from: str = "effective_from",
    valid_to: str = "effective_to",
    dim_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Temporal fact⋈SCD2-dimension join: attach the dimension version
    whose validity interval ``[valid_from, valid_to)`` contains each
    fact's timestamp (``valid_to`` NULL = current/open version, the
    :func:`databricks_demo_feature_store_spark.operators.history.build_scd2` output shape).
    Facts in a coverage GAP (no version active at their instant) keep
    NULL dimension attributes — the honest answer, not the stale row.

    Scale shape: a direct theta join (``key equal AND from <= ts < to``)
    degrades to a per-key version scan. Instead this rides the linear
    as-of carry (:func:`point_in_time_join`) on ``valid_from`` — one
    hash shuffle of facts + versions, per-key history never multiplies —
    and then applies the ``valid_to`` residual row-locally, nulling the
    carried attributes where the matched version had already expired.
    Non-overlap of versions per key is the SCD2 contract the builder
    (`build_scd2`) guarantees by construction.
    """
    keys = list(keys)
    if dim_cols is None:
        dim_cols = [
            c
            for c in df_dim.columns
            if c not in keys and c not in (valid_from, valid_to)
        ]
    dim_cols = list(dim_cols)
    # valid_to is carried through the PIT join internally, so it
    # collides with a same-named fact column exactly like a dim column
    dup = (set(dim_cols) | {valid_to}) & set(df_facts.columns)
    if dup:
        raise ValueError(
            f"scd2_dim_join: dimension columns {sorted(dup)} collide with "
            "fact columns — rename before joining (duplicate output names "
            "are ambiguous)"
        )
    joined = point_in_time_join(
        df_facts,
        df_dim,
        keys=keys,
        spine_time=fact_time,
        feature_time=valid_from,
        feature_cols=[*dim_cols, valid_to],
    )
    ts = F.col(fact_time).cast("timestamp")
    expired = F.col(valid_to).isNotNull() & (ts >= F.col(valid_to).cast("timestamp"))
    return joined.select(
        *[c for c in df_facts.columns],
        *[
            F.when(expired, F.lit(None)).otherwise(F.col(c)).alias(c)
            for c in dim_cols
        ],
    )


def bloom_filtered_join(
    df_left: DataFrame,
    df_right: DataFrame,
    left_on: str,
    right_on: str,
    how: str = "inner",
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
) -> DataFrame:
    """Semi-join reduction: pre-filter the probe side with a broadcast
    Bloom filter of the build side's keys BEFORE the shuffle join.

    The fact-fact join killer at 100 TB is shuffling probe rows that
    can never match (a selective filter on the build side leaves 1%% of
    keys, but 100%% of the probe still crosses the wire). Engines solve
    this with runtime filters (Spark's own
    ``spark.sql.optimizer.runtime.bloomFilter.enabled`` does it inside
    AQE); this operator is the explicit, engine-portable form over the
    repo's column-algebra Bloom (`operators/sketches.py bloom_build`):

    - ONE pass over the build side's keys folds into a one-row
      ``map<int,bigint>`` filter (a few MB regardless of key count),
    - the probe side crossJoins the broadcast row and keeps rows whose
      key MIGHT be present (codegen'd bit tests at scan speed — no
      shuffle, no Python),
    - the exact join then runs on the reduced probe side. Bloom false
      positives cost only wasted shuffle rows; false negatives cannot
      happen, so the join result is EXACTLY the plain join's.

    Keys of any type are bridged through ``xxhash64`` (both sides hashed
    identically); the ``bloom`` helper column never leaks into the
    output. ``how`` covers inner/left_semi — shapes where dropping
    non-matching probe rows early is semantics-preserving.
    """
    from databricks_demo_feature_store_spark.operators.sketches import (
        bloom_build,
        bloom_might_contain_dense,
    )

    if how not in ("inner", "left_semi"):
        raise ValueError(
            f"bloom_filtered_join: how={how!r} not supported — the Bloom "
            "pre-filter drops probe rows, which only preserves inner/"
            "left_semi semantics"
        )
    # mask the hash non-negative: Spark's % keeps the dividend's sign, so
    # a raw xxhash64 would scatter bits to NEGATIVE positions — fine for
    # the sparse map (negative keys round-trip) but out of range for the
    # dense array probe. Same mask on both sides keeps build/probe aligned.
    def _key(c):
        return F.xxhash64(c).bitwiseAND(F.lit(0x7FFFFFFFFFFFFFFF))

    keys = df_right.select(_key(F.col(right_on)).alias("__bloom_key"))
    bloom = bloom_build(keys, "__bloom_key", n_bits=n_bits, n_hashes=n_hashes)
    # Collect the one-row filter and inject it as a LITERAL dense array —
    # exactly what Spark's own runtime bloom filter does (build, collect
    # at the driver, inject into the probe's scan filter). The literal is
    # evaluated once under codegen; attaching the filter via a crossJoin
    # instead makes every probed UnsafeRow COPY the array bytes (measured
    # 20x slower at 1<<20 bits), and a sparse-map probe pays an O(set
    # words) scan per element_at. Driver traffic = n_bits/8 bytes once.
    word_map = bloom.collect()[0]["bloom"] or {}
    n_words = (n_bits + 63) // 64
    dense = [word_map.get(i, 0) for i in range(n_words)]
    # ONE parsed expression, constant-folded to a single array literal.
    # (F.lit(list) builds the array from n_words separate Column objects —
    # 16k py4j round-trips, measured ~8 s at the default sizing.)
    arr = F.expr("array(" + ",".join(f"{w}L" for w in dense) + ")")
    reduced = df_left.filter(
        bloom_might_contain_dense(
            arr, _key(F.col(left_on)), n_bits=n_bits, n_hashes=n_hashes
        )
    )
    # frame-qualified condition: unqualified F.col(left_on) is ambiguous
    # whenever both sides carry the key under the same name
    return reduced.join(df_right, reduced[left_on] == df_right[right_on], how)
