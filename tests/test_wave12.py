"""Round-7 wave-12 tests: the approximate profile's error bound + plan
shape (no Expand). (The constructed-payload compression margin tests
lived here rounds 7-9; they retired with q_compression_fixed's round-10
displacement, recorded in PARITY.md.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from weather_api_automate_etl_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_profile_approx_error_bound_and_shape(spark):
    """The approx profile must (a) agree exactly with the exact profile on
    everything but n_distinct, (b) keep each HLL++ estimate within 3·rsd
    of the exact cardinality, and (c) plan WITHOUT the per-column Expand
    the exact count_distinct requires — the entire point of the swap."""
    from weather_api_automate_etl_spark.operators import quality

    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]
    orders = load_table(spark, SF, "orders")
    exact = {
        r.column_name: r for r in quality.profile_table(orders, cols).collect()
    }
    approx_df = quality.profile_table(orders, cols, distinct_mode="approx")
    approx = {r.column_name: r for r in approx_df.collect()}
    assert set(approx) == set(cols)
    for c in cols:
        e, a = exact[c], approx[c]
        assert (a.n_rows, a.n_nulls, a.min_value, a.max_value) == (
            e.n_rows, e.n_nulls, e.min_value, e.max_value,
        )
        assert abs(a.n_distinct - e.n_distinct) <= max(
            1, 3 * 0.05 * e.n_distinct
        ), (c, a.n_distinct, e.n_distinct)
    plan_approx = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan_approx
    plan_exact = (
        quality.profile_table(orders, cols)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" in plan_exact


def test_profile_portable_error_bound_and_shape(spark):
    """The portable md5-HLL profile (the oracle-hashable 100 TB path)
    must (a) agree exactly with the exact profile on everything but
    n_distinct, (b) keep each m=64 estimate within 3·(1.04/√64) ≈ 39 %
    of the exact cardinality (the textbook rsd), and (c) plan WITHOUT
    the per-column Expand — the register maxes are plain mergeable
    aggregates."""
    from weather_api_automate_etl_spark.operators import quality

    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]
    orders = load_table(spark, SF, "orders")
    exact = {
        r.column_name: r for r in quality.profile_table(orders, cols).collect()
    }
    port_df = quality.profile_table(orders, cols, distinct_mode="portable")
    port = {r.column_name: r for r in port_df.collect()}
    assert set(port) == set(cols)
    for c in cols:
        e, p = exact[c], port[c]
        assert (p.n_rows, p.n_nulls, p.min_value, p.max_value) == (
            e.n_rows, e.n_nulls, e.min_value, e.max_value,
        )
        assert abs(p.n_distinct - e.n_distinct) <= max(
            2, 3 * (1.04 / 8.0) * e.n_distinct
        ), (c, p.n_distinct, e.n_distinct)
    plan = port_df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan


def test_portable_hll_linear_branch_rounding_margin():
    """The ONLY engine-divergent call in the portable estimate is ln()
    inside the linear-counting branch (the raw branch is pure IEEE
    * and /, bit-identical everywhere). A 1-ulp libm difference can
    only flip the rounded estimate if 64·ln(64/v) sits within ~1e-13
    of a .5 rounding boundary for some reachable zero-register count
    v ∈ 1..64 — pin that the minimum margin is astronomically wider."""
    import math

    margins = []
    for v in range(1, 65):
        est = 64.0 * math.log(64.0 / v)
        margins.append(abs((est % 1.0) - 0.5))
    assert min(margins) > 1e-6, min(margins)


def test_profile_rejects_bad_mode(spark):
    from weather_api_automate_etl_spark.operators import quality

    with pytest.raises(ValueError, match="distinct_mode"):
        quality.profile_table(
            load_table(spark, SF, "orders"), ["o_orderkey"], distinct_mode="hll"
        )


def test_bloom_prune_join_exact_and_conservative(spark):
    """The Bloom contract: (a) result bit-identical to the plain semi join
    at any filter size — even an undersized, collision-heavy bitmap only
    costs pruning power, never correctness; (b) the bloom phase alone
    never drops a true match (no false negatives); (c) parameter
    validation."""
    from weather_api_automate_etl_spark.operators import joins

    facts = spark.range(20000).selectExpr("id as k", "id % 7 as v")
    keys = spark.range(300).selectExpr("id * 61 as k")
    want = sorted(
        (r.k, r.v) for r in facts.join(keys, "k", "left_semi").collect()
    )
    for num_bits in (64, 1 << 10, 1 << 16):  # 64 bits = heavy collisions
        got = sorted(
            (r.k, r.v)
            for r in joins.bloom_prune_join(
                facts, keys, "k", num_bits=num_bits
            ).collect()
        )
        assert got == want, num_bits
    # NULL keys never match (semi-join semantics) and never crash the probe
    with_null = facts.unionByName(
        spark.sql("SELECT CAST(NULL AS BIGINT) k, CAST(0 AS BIGINT) v")
    )
    got = sorted(
        (r.k, r.v)
        for r in joins.bloom_prune_join(with_null, keys, "k").collect()
    )
    assert got == want
    with pytest.raises(ValueError, match="multiple of 64"):
        joins.bloom_filter_build(keys, "k", num_bits=100)
    with pytest.raises(ValueError, match="num_hashes"):
        joins.bloom_filter_build(keys, "k", num_hashes=0)


def test_bloom_phase_prunes_most_nonmatching_rows(spark):
    """The point of the operator: with the default sizing, the bloom-only
    phase passes (nearly) only true matches — measured fp excess below
    1% on a 1.5%-selective key set."""
    from pyspark.sql import functions as F2

    from weather_api_automate_etl_spark.operators import joins

    facts = spark.range(100000).selectExpr("id as k")
    keys = spark.range(1500).selectExpr("id * 67 as k")
    true_matches = facts.join(keys, "k", "left_semi").count()
    bitmap = joins.bloom_filter_build(keys, "k")
    lit_bitmap = F2.array(*[F2.lit(w).cast("long") for w in bitmap])
    seeds = F2.array(*[F2.lit(s) for s in range(5)])

    def bit_set(s):
        pos = F2.pmod(F2.xxhash64(F2.col("k"), s), F2.lit(1 << 16))
        mask = F2.call_function(
            "shiftleft", F2.lit(1).cast("long"), (pos % 64).cast("int")
        )
        return F2.get(lit_bitmap, (pos / 64).cast("int")).bitwiseAND(mask) != 0

    survivors = facts.filter(F2.forall(seeds, bit_set)).count()
    assert survivors >= true_matches  # conservative
    assert survivors - true_matches <= 0.01 * facts.count()


def test_bloom_prune_join_broadcast_bitmap_regime(spark):
    """Bitmaps past the literal threshold (2048 words) ride a one-row
    broadcast join instead of being inlined as plan literals — a 2^18-bit
    filter is 4096 words, which as literals would mean ~20k constant
    expression nodes replicated per probe hash. Result must stay
    bit-identical to the plain semi join, the helper column must not leak
    into the output, and the plan must carry the single-row broadcast."""
    from weather_api_automate_etl_spark.operators import joins

    facts = spark.range(20000).selectExpr("id as k", "id % 7 as v")
    keys = spark.range(300).selectExpr("id * 61 as k")
    want = sorted(
        (r.k, r.v) for r in facts.join(keys, "k", "left_semi").collect()
    )
    out = joins.bloom_prune_join(facts, keys, "k", num_bits=1 << 18)
    assert out.columns == ["k", "v"]
    assert sorted((r.k, r.v) for r in out.collect()) == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    # past the measured probe cliff the operator refuses outright
    with pytest.raises(ValueError, match="2\\^24 probe cap"):
        joins.bloom_prune_join(facts, keys, "k", num_bits=1 << 25)


def test_bloom_prune_join_is_dtype_stable(spark):
    """xxhash64 hashes int vs bigint representations of the same value
    differently; the probe must cast the fact key to the BUILD side's
    dtype or matching rows prune as false negatives (the round-7 advice
    finding). Facts carry int keys, the key set bigint — the result must
    still equal the plain semi join."""
    from weather_api_automate_etl_spark.operators import joins

    facts = spark.range(5000).selectExpr(
        "CAST(id AS INT) AS k", "id % 7 AS v"
    )
    keys = spark.range(100).selectExpr("id * 31 AS k")  # bigint
    want = sorted(
        (r.k, r.v) for r in facts.join(keys, "k", "left_semi").collect()
    )
    got = sorted(
        (r.k, r.v)
        for r in joins.bloom_prune_join(facts, keys, "k").collect()
    )
    assert got == want and len(want) == 100


def test_js_divergence_bounds_and_identity(spark):
    """JSD is 0 for identical distributions and ≤ ln 2 always (even when
    the two sides are fully disjoint — the property PSI lacks)."""
    import math

    from weather_api_automate_etl_spark.operators import stats

    a = spark.range(1000).selectExpr("CAST(id % 100 AS DOUBLE) AS v")
    edges = [25.0, 50.0, 75.0]
    same = stats.js_divergence(a, a, "v", edges).agg(
        F.sum("js_term")
    ).collect()[0][0]
    assert abs(same) < 1e-9
    b = spark.range(1000).selectExpr("CAST(id % 100 + 1000 AS DOUBLE) AS v")
    disjoint = stats.js_divergence(a, b, "v", edges).agg(
        F.sum("js_term")
    ).collect()[0][0]
    assert 0.0 < disjoint <= math.log(2) + 1e-9
    with pytest.raises(ValueError, match="ascending"):
        stats.js_divergence(a, b, "v", [5.0, 1.0])
