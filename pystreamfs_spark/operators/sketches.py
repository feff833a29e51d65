"""Mergeable sketches: approximate distinct counts (HLL), quantiles
(KLL) and frequency estimates (Count-Min) whose per-group summaries UNION
into coarser groups without rescanning the data — the hierarchical-rollup
pattern (hourly → daily → monthly → total) that exact aggregates cannot
give you at 100 TB.

Why sketches and not exact: an exact COUNT(DISTINCT) must shuffle every
distinct key once per grouping level; a sketch is a few KB per group, built
in ONE scan with map-side partial aggregation, and every coarser level is a
metadata-only merge of child sketches (`hll_union_agg` /
`kll_sketch_merge_*`). Spark ships Apache DataSketches implementations
(`hll_sketch_agg`, Spark 3.5+), so the binary sketch columns persist to
Parquet and merge across jobs and days — the streaming/batch-unified
summary store.

Error model (asserted in tests): HLL relative standard error ≈
1.04 / sqrt(2^lg_k) (≈1.6% at the lg_k=12 default); KLL rank error ≈ 1.33%
at the default k=200. Estimates are deterministic for a given dataset (the
sketches hash values, no RNG) but engine-specific — no DuckDB oracle, so
driver queries are rows-only and correctness is pinned by error-bound and
merge-consistency tests against exact aggregates.

Count-Min (Cormode & Muthukrishnan 2005) is the exception: the engine's
buckets come from the portable md5-prefix hash (the SimHash/winnow token
hash), all arithmetic is integer, and merge is element-wise sum — so the
estimates are EXACTLY reproducible in ANSI SQL and the driver query
carries a full DuckDB oracle, unlike the DataSketches-backed HLL/KLL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hll_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lg_k: int = 12,
    sketch_col: str = "hll_sketch",
    estimate_col: str = "approx_distinct",
) -> DataFrame:
    """Per-group HLL sketch + distinct estimate in one scan. Keep the
    binary ``sketch_col`` if coarser rollups are wanted (feed it to
    :func:`hll_rollup`); drop it for a plain approximate report."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias(sketch_col)
    ).withColumn(estimate_col, F.hll_sketch_estimate(F.col(sketch_col)))


def hll_rollup(
    sketches: DataFrame,
    to_cols: list[str],
    sketch_col: str = "hll_sketch",
    estimate_col: str = "approx_distinct",
) -> DataFrame:
    """Merge finer-grained HLL sketches up to ``to_cols`` WITHOUT touching
    the base data — a metadata-only union (each output sketch is a few KB).
    ``to_cols=[]`` yields the single grand-total row. Distinct counts are
    NOT additive across groups (members overlap); sketch union is the
    correct — and cheap — way to roll them up."""
    gb = sketches.groupBy(*to_cols) if to_cols else sketches.groupBy()
    return gb.agg(F.hll_union_agg(F.col(sketch_col)).alias(sketch_col)).withColumn(
        estimate_col, F.hll_sketch_estimate(F.col(sketch_col))
    )


def kll_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    probs: list[float],
    k: int = 200,
    sketch_col: str = "kll_sketch",
) -> DataFrame:
    """Per-group KLL quantile sketch with the requested quantiles
    materialized as ``q_<prob>`` columns. The binary sketch column rides
    along for :func:`kll_rollup`."""
    out = df.groupBy(*group_cols).agg(
        F.kll_sketch_agg_double(F.col(value_col).cast("double"), F.lit(k)).alias(sketch_col)
    )
    for p in probs:
        out = out.withColumn(
            f"q_{str(p).replace('.', '_')}",
            F.kll_sketch_get_quantile_double(F.col(sketch_col), F.lit(float(p))),
        )
    return out


def kll_rollup(
    sketches: DataFrame,
    to_cols: list[str],
    probs: list[float],
    sketch_col: str = "kll_sketch",
) -> DataFrame:
    """Merge per-group KLL sketches to ``to_cols`` granularity and
    re-extract quantiles — again metadata-only, no rescan. (Exact
    percentiles are NOT mergeable at all; this is the only way to get
    hierarchical quantiles in one pass over the base data.)"""
    gb = sketches.groupBy(*to_cols) if to_cols else sketches.groupBy()
    # kll_sketch_merge_double is a BINARY scalar (unlike hll_union_agg), so
    # the group's sketches are collected (a few KB each, group-count many)
    # and folded pairwise; bind the list to a column before the lambda
    out = gb.agg(F.collect_list(F.col(sketch_col)).alias("__sks"))
    # try_element_at: an all-NULL-value group has an empty sketch list
    # (collect_list drops NULLs) — merge to a NULL sketch instead of an
    # ANSI INVALID_ARRAY_INDEX crash (Spark 4 ANSI mode is on)
    out = out.withColumn(
        sketch_col,
        F.aggregate(
            F.slice(F.col("__sks"), 2, F.greatest(F.size("__sks") - 1, F.lit(0))),
            F.try_element_at(F.col("__sks"), F.lit(1)),
            lambda acc, x: F.kll_sketch_merge_double(acc, x),
        ),
    ).drop("__sks")
    for p in probs:
        out = out.withColumn(
            f"q_{str(p).replace('.', '_')}",
            F.kll_sketch_get_quantile_double(F.col(sketch_col), F.lit(float(p))),
        )
    return out


def _cm_bucket(item: Column, r: int, width: int) -> Column:
    """Row-``r`` Count-Min bucket of a string item: the portable 32-bit
    md5-prefix hash of ``"{r}:{item}"`` mod ``width`` — pure integer
    arithmetic, identical in any engine with md5 (the DuckDB oracle
    replays it verbatim)."""
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.lit(str(r)), item)), 1, 8), 16, 10
        ).cast("long"),
        F.lit(width),
    )


def countmin_sketch(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    weight_col: str | None = None,
    depth: int = 4,
    width: int = 1024,
    sketch_col: str = "cm_sketch",
    total_col: str = "cm_total",
) -> DataFrame:
    """Per-group Count-Min sketch: one row per group with a SPARSE cell map
    ``{row*width + bucket: count}`` (zero cells absent), the exact total
    weight, and the ``cm_depth`` / ``cm_width`` parameters riding along so
    downstream estimate/rollup calls can fail fast on a mismatch.

    Estimates from the sketch never under-count (``est >= true``) and
    over-count by <= e/width * total with probability 1 - (1/2)^depth per
    query — the classic CM guarantee.

    Scale shape (100 TB): the only fan-out is the constant ``depth``×
    explode; the cell aggregation map-side-combines to <= depth×width cells
    per group per partition before the shuffle, so shuffle volume is
    O(partitions × groups × depth × width) REGARDLESS of row count — the
    whole point versus an exact (group, item) count. Totals are derived
    from the cell sums (each item lands in exactly ``depth`` cells), not a
    second scan."""
    if depth < 2:
        raise ValueError(f"countmin_sketch: depth must be >= 2, got {depth}")
    if width < 2:
        raise ValueError(f"countmin_sketch: width must be >= 2, got {width}")
    item = F.col(item_col).cast("string")
    wgt = (F.col(weight_col) if weight_col else F.lit(1)).cast("long")
    cells = F.array(
        *[(F.lit(r * width) + _cm_bucket(item, r, width)) for r in range(depth)]
    )
    long_form = df.select(
        *group_cols, F.explode(cells).alias("__cell"), wgt.alias("__w")
    )
    per_cell = long_form.groupBy(*group_cols, "__cell").agg(
        F.sum("__w").alias("__cnt")
    )
    gb = per_cell.groupBy(*group_cols) if group_cols else per_cell.groupBy()
    return (
        gb.agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("__cell"), F.col("__cnt")))
            ).alias(sketch_col),
            # Σ cell counts = depth × Σ weights (exact: every item hits one
            # cell per row); double division is exact below 2^52
            (F.sum("__cnt") / F.lit(depth)).cast("long").alias(total_col),
        )
        .withColumn("cm_depth", F.lit(depth))
        .withColumn("cm_width", F.lit(width))
    )


def countmin_rollup(
    sketches: DataFrame,
    to_cols: list[str],
    sketch_col: str = "cm_sketch",
    total_col: str = "cm_total",
) -> DataFrame:
    """Merge finer-grained CM sketches up to ``to_cols`` without touching
    the base data: element-wise cell sums (frequencies ARE additive across
    disjoint groups, unlike distincts) — metadata-only, O(depth × width)
    per output group. ``cm_depth``/``cm_width`` join the grouping key, so
    sketches built with different parameters are never summed together
    (they would land in separate, clearly-visible output rows — do not mix
    them)."""
    keys = list(to_cols) + ["cm_depth", "cm_width"]
    ex = sketches.select(
        *keys,
        F.explode(F.col(sketch_col)).alias("__cell", "__cnt"),
    )
    # a row's total would repeat once per cell through the explode:
    # aggregate totals from the un-exploded frame instead
    totals = sketches.groupBy(*keys).agg(F.sum(total_col).alias(total_col))
    per_cell = ex.groupBy(*keys, "__cell").agg(F.sum("__cnt").alias("__cnt"))
    merged = per_cell.groupBy(*keys).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("__cell"), F.col("__cnt")))
        ).alias(sketch_col)
    )
    return merged.join(totals, keys).select(
        *to_cols, sketch_col, total_col, "cm_depth", "cm_width"
    )


def countmin_estimate(
    sketches: DataFrame,
    items: DataFrame,
    group_cols: list[str],
    item_col: str,
    depth: int = 4,
    width: int = 1024,
    sketch_col: str = "cm_sketch",
    est_col: str = "est_count",
) -> DataFrame:
    """Point-frequency estimates for candidate ``items`` (a DataFrame with
    ``group_cols`` + ``item_col``): min over the sketch's ``depth`` hash
    rows of the item's cell counts. Sketch tables are one row per group, so
    the join side is broadcast. ``depth``/``width`` must match the build —
    asserted per row against the sketch's own ``cm_depth``/``cm_width``
    columns (fail-fast, inside the estimate expression so it cannot be
    pruned)."""
    item = F.col(item_col).cast("string")
    # NOTE (r06): a dense-array variant of these lookups (the bloom_densify
    # pattern) was measured and REJECTED here — the depth×width cell array
    # carried through the broadcast join costs more per joined row than the
    # sparse map's linear-scan lookups at the default 4×512 geometry.
    lookups = [
        F.coalesce(
            F.try_element_at(
                F.col(sketch_col), F.lit(r * width) + _cm_bucket(item, r, width)
            ),
            F.lit(0).cast("long"),
        )
        for r in range(depth)
    ]
    guard = F.assert_true(
        (F.col("cm_depth") == depth) & (F.col("cm_width") == width),
        F.lit("countmin_estimate: depth/width mismatch with the sketch build"),
    )
    est = F.when(guard.isNull(), F.least(*lookups))
    joined = (
        items.join(F.broadcast(sketches), group_cols)
        if group_cols
        else items.crossJoin(F.broadcast(sketches))
    )
    return joined.withColumn(est_col, est).drop(
        sketch_col, "cm_depth", "cm_width"
    )


def cm_heavy_hitters(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    min_frac: float = 0.01,
    weight_col: str | None = None,
    depth: int = 4,
    width: int = 1024,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Per-group heavy hitters via Count-Min: items whose estimated weight
    is >= ``min_frac`` of the group total. Because CM never under-counts,
    every TRUE heavy hitter survives (no false negatives); collisions can
    let a few items just under the line through — the one-sided trade the
    sketch makes for bounded memory.

    ``candidates`` defaults to the distinct (group, item) pairs of ``df``
    itself — exact and fine up to billions of candidates, but at 100 TB
    pass a cheaper candidate frame (e.g. a 1% sample's distincts: any item
    above ``min_frac`` of a group is near-certain to appear in the
    sample), keeping the candidate scan decoupled from the guarantee."""
    if not 0.0 < min_frac <= 1.0:
        raise ValueError(f"cm_heavy_hitters: min_frac must be in (0, 1], got {min_frac}")
    sk = countmin_sketch(df, group_cols, item_col, weight_col, depth, width)
    cand = (
        candidates
        if candidates is not None
        else df.select(*group_cols, item_col).distinct()
    )
    est = countmin_estimate(sk, cand, group_cols, item_col, depth, width)
    return est.where(F.col("est_count") >= F.col("cm_total") * F.lit(float(min_frac)))


def bloom_build(
    df: DataFrame,
    item_col: str,
    k_hashes: int = 5,
    m_bits: int = 1 << 20,
    group_cols: list[str] | None = None,
    bloom_col: str = "bloom",
) -> DataFrame:
    """Portable Bloom filter over a column's distinct values: one row per
    group with a SPARSE word map ``{bit_index // 63: OR of set bits}``.
    Bit positions reuse the Count-Min md5-prefix hash (``_cm_bucket`` with
    ``width=m_bits``), and words are 63 bits wide so every shift stays off
    the sign bit — both choices keep the structure byte-identical in ANSI
    SQL (the driver oracle rebuilds it in DuckDB), unlike Spark's internal
    ``BloomFilterAggregate`` which is not registered as a SQL function.

    Membership answers are one-sided: never "absent" for a present item;
    false-positive rate ≈ (1 - e^(-k·n/m))^k. Blooms over disjoint inputs
    merge losslessly with :func:`bloom_union` (bitwise OR — the sketch is
    a pure union type, like HLL and unlike CM's sums).

    Scale shape (100 TB): constant ``k_hashes`` explode, word aggregation
    map-side-combines to <= m_bits/63 rows per partition before the
    shuffle; the finished sketch is <= ~16·m/63 bytes per group and rides
    a broadcast join at probe time."""
    if k_hashes < 1:
        raise ValueError(f"bloom_build: k_hashes must be >= 1, got {k_hashes}")
    if m_bits < 63:
        raise ValueError(f"bloom_build: m_bits must be >= 63, got {m_bits}")
    gcols = list(group_cols or [])
    item = F.col(item_col).cast("string")
    positions = F.array(*[_cm_bucket(item, r, m_bits) for r in range(k_hashes)])
    long_form = df.select(*gcols, F.explode(positions).alias("__pos"))
    words = long_form.select(
        *gcols,
        F.floor(F.col("__pos") / F.lit(63)).cast("long").alias("__w"),
        # call_function: the pyspark shiftleft wrapper only takes a Python
        # int bit count, the SQL function takes a column
        F.call_function(
            "shiftleft",
            F.lit(1).cast("long"),
            F.pmod(F.col("__pos"), F.lit(63)).cast("int"),
        ).alias("__m"),
    )
    per_word = words.groupBy(*gcols, "__w").agg(F.bit_or("__m").alias("__bits"))
    gb = per_word.groupBy(*gcols) if gcols else per_word.groupBy()
    return (
        gb.agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("__w"), F.col("__bits")))
            ).alias(bloom_col)
        )
        .withColumn("bm_k", F.lit(k_hashes))
        .withColumn("bm_bits", F.lit(m_bits))
    )


def bloom_union(
    blooms: DataFrame,
    to_cols: list[str] | None = None,
    bloom_col: str = "bloom",
) -> DataFrame:
    """Bitwise-OR merge of Bloom filters up to ``to_cols`` granularity —
    metadata-only, lossless (the union's filter is IDENTICAL to one built
    over the concatenated inputs, asserted in tests). ``bm_k``/``bm_bits``
    join the grouping key so mismatched-parameter blooms are never OR-ed
    together."""
    keys = list(to_cols or []) + ["bm_k", "bm_bits"]
    ex = blooms.select(*keys, F.explode(F.col(bloom_col)).alias("__w", "__bits"))
    per_word = ex.groupBy(*keys, "__w").agg(F.bit_or("__bits").alias("__bits"))
    return per_word.groupBy(*keys).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("__w"), F.col("__bits")))
        ).alias(bloom_col)
    ).select(*(to_cols or []), bloom_col, "bm_k", "bm_bits")


def bloom_densify(
    blooms: DataFrame,
    bloom_col: str = "bloom",
    dense_col: str = "bloomd",
) -> DataFrame:
    """Convert the sparse word MAP of :func:`bloom_build` into a DENSE
    word array (index = word, 0 for absent words) for probe-time use.

    Why (r06, measured): ``try_element_at`` on Spark's MapType is a LINEAR
    scan of the map's key array — a 2^16-bit filter holds ~1040 words, so
    every probed gram paid k_hashes × O(1040) key comparisons, which
    dominated the whole decontamination pass. The dense array makes each
    lookup O(1): the same probe job drops 4.4 s → 2.0 s on the sf0.1
    corpus with an identical match set. The sparse map stays the BUILD and
    STORAGE format (mergeable via :func:`bloom_union`, size O(set bits));
    densify once per probe job on the one-row broadcast side — the dense
    row is ``m_bits/63`` longs (~8 KB at 2^16 bits) regardless of corpus
    size. ``bm_k``/``bm_bits`` ride along for the probe guard."""
    n_words = (F.col("bm_bits") + 62) / F.lit(63)
    dense = F.transform(
        F.sequence(F.lit(0), F.floor(n_words).cast("int") - 1),
        lambda w: F.coalesce(
            F.try_element_at(F.col(bloom_col), w.cast("long")), F.lit(0).cast("long")
        ),
    )
    keep = [c for c in blooms.columns if c != bloom_col]
    return blooms.select(*keep, dense.alias(dense_col))


def _check_probe_k(k_hashes: int) -> None:
    # bloom_build rejects k < 1, so no probe can match a sketch with it; the
    # empty AND chain / forall would otherwise answer NULL / TRUE
    if k_hashes < 1:
        raise ValueError(f"bloom_might_contain: k_hashes must be >= 1, got {k_hashes}")


def bloom_might_contain_dense(
    item: Column,
    k_hashes: int,
    m_bits: int,
    dense_col: str = "bloomd",
) -> Column:
    """Membership test against a :func:`bloom_densify` row — the probe-side
    twin of :func:`bloom_might_contain` with O(1) word lookups. Returns the
    identical boolean for every input (asserted in tests): same md5 bit
    positions, same guard; only the word fetch changes (array index vs map
    scan).

    The k bit tests are a flat unrolled AND chain with NO higher-order
    function (r06, measured): a ``forall`` form — though it evaluates each
    md5 position only once — makes the whole predicate CodegenFallback
    (HOF interpretation is viral), and interpretation, not the md5s, was
    the probe bottleneck once the word fetch became O(1). Unrolled, each
    position expression is inlined twice (word index + bit index → 2k md5
    per probed item vs the forall's k) yet the codegen'd chain still
    halves the probe job: 2.2 s → 1.04 s over the sf0.1 gram table,
    identical matches. (The MAP-probe twin above keeps its forall: there
    the linear map scans dominate and halving the md5s wins — measured in
    the same round.)"""
    _check_probe_k(k_hashes)
    ok = None
    for r in range(k_hashes):
        pos = _cm_bucket(item, r, m_bits)
        test = (
            F.call_function(
                "shiftright",
                F.coalesce(
                    F.try_element_at(
                        F.col(dense_col),
                        (F.floor(pos / F.lit(63)).cast("long") + F.lit(1)).cast("int"),
                    ),
                    F.lit(0).cast("long"),
                ),
                F.pmod(pos, F.lit(63)).cast("int"),
            ).bitwiseAND(F.lit(1))
            == 1
        )
        ok = test if ok is None else (ok & test)
    guard = F.assert_true(
        (F.col("bm_k") == k_hashes) & (F.col("bm_bits") == m_bits),
        F.lit("bloom_might_contain: k/m mismatch with the bloom build"),
    )
    return F.when(guard.isNull(), ok)


def bloom_might_contain(
    item: Column,
    k_hashes: int,
    m_bits: int,
    bloom_col: str = "bloom",
) -> Column:
    """Boolean membership-test EXPRESSION against a joined-in bloom map
    column: all ``k_hashes`` bit positions set. Guarded per row against the
    sketch's own ``bm_k``/``bm_bits`` (fail-fast inside the expression, the
    countmin_estimate pattern).

    r06: the k positions are computed ONCE into an array and each bit test
    reads its position through a ``forall`` lambda variable — a bound
    VALUE, unlike an expression tree, which Catalyst would re-evaluate per
    reference (each position feeds both its word index and its bit index,
    so the inline form pays 2k md5 per probed item; this form pays k).
    Probing is md5-bound, so halving the hashes outweighs the lambda's
    interpreted evaluation. Same boolean for every input."""
    _check_probe_k(k_hashes)
    positions = F.array(*[_cm_bucket(item, r, m_bits) for r in range(k_hashes)])
    ok = F.forall(
        positions,
        lambda pos: F.call_function(
            "shiftright",
            F.coalesce(
                F.try_element_at(F.col(bloom_col), F.floor(pos / F.lit(63)).cast("long")),
                F.lit(0).cast("long"),
            ),
            F.pmod(pos, F.lit(63)).cast("int"),
        ).bitwiseAND(F.lit(1))
        == 1,
    )
    guard = F.assert_true(
        (F.col("bm_k") == k_hashes) & (F.col("bm_bits") == m_bits),
        F.lit("bloom_might_contain: k/m mismatch with the bloom build"),
    )
    return F.when(guard.isNull(), ok)
