"""Mergeable frequency/cardinality sketches — count-min and HyperLogLog.

With the Bloom prefilter (operators/bloom.py) these complete the sketch
toolbox a 100 TB corpus pipeline leans on wherever an exact answer would
shuffle the world:

- :func:`cms_build` / :func:`cms_estimate` — count-min sketch (Cormode &
  Muthukrishnan 2005): frequency estimation for heavy-hitter detection
  (hot hosts, boilerplate tokens, mega-duplicated lines) from a bounded
  ``depth x width`` counter table. Estimates NEVER undercount
  (est >= true; est <= true + eps*N with prob 1-delta) — the one-sided
  bound is what makes "gate everything the sketch calls hot" safe.
- :func:`hll_registers` / :func:`hll_estimate` — HyperLogLog (Flajolet et
  al. 2007): distinct counting (vocabulary size, unique urls per crawl)
  from ``m`` max-rank registers.

Both collapse the corpus into a FIXED-size table with ONE map-side-combined
aggregation (the per-partition partial agg IS the per-partition sketch;
the exchange merges sketches — counters add, registers max — which is the
textbook mergeability argument, executed by Spark's partial-agg machinery
rather than hand-rolled combiners). Probing joins against the bounded
table, which Catalyst broadcasts.

Everything is DETERMINISTIC: the salted portable polynomial hash
(corpus_filters._poly_hash) replaces the usual RNG-seeded hash families,
so every counter, register, and integer-quantized estimate is exactly
re-derivable by the DuckDB oracle and byte-identical under any
partitioning. The price is hash quality beneath a cryptographic family —
fine for engine-correctness work; swap the hash, not the dataflow, for
production accuracy.

Reference analog: the reference keeps an in-memory predicted-cache dict
and emitted-text set (/root/reference/models/ocr/base_ocr.py:142-144;
the contract's emission_filter and dedup_exact queries are their
relational form); sketches are the bounded-state form those take when
the key space no longer fits one process.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .corpus_filters import POLY_MOD

#: salt family for CMS rows / HLL hashes — distinct from the Bloom salts
#: (1000003*(i+1)) so the sketches are independent of the prefilter.
_SALT = 999_983

#: per-row poly MULTIPLIERS. Two same-mult poly hashes with different
#: inits are AFFINELY related (h2 = h1 + (c2-c1)*31^len mod p), so for
#: same-length keys a collision in one sketch row implies a collision in
#: every row and the min-over-rows bound collapses. Distinct multipliers
#: make the row hashes genuinely independent functions. (Measured: the
#: salted-init-only family skewed the HLL estimate 30x.)
_MULTS = (31, 37, 41, 43, 47, 53, 59, 61)


def _poly_hash_m(token, init: int, mult: int):
    """corpus_filters._poly_hash generalized to a per-use multiplier.
    DuckDB mirror: ``list_reduce(list_prepend(<init>, list_transform(
    split(k,''), c -> ascii(c))), (a, b) -> (a * <mult> + b) % 1000000007)``."""
    chars = F.filter(F.split(token, ""), lambda c: c != "")
    codes = F.transform(chars, F.ascii)
    return F.aggregate(
        codes,
        F.lit(init).cast("long"),
        lambda acc, x: (acc * mult + x.cast("long")) % POLY_MOD,
    )


def _cms_positions(col, *, width: int, depth: int):
    """array<struct<row,pos>>: one counter coordinate per sketch row."""
    if depth > len(_MULTS):
        raise ValueError(f"depth must be <= {len(_MULTS)}")
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                (
                    _poly_hash_m(col, init=_SALT * (i + 1), mult=_MULTS[i]) % width
                ).alias("pos"),
            )
            for i in range(depth)
        ]
    )


def cms_build(
    df: DataFrame, key_col: str = "key", *, width: int = 1024, depth: int = 4
) -> DataFrame:
    """Count-min sketch of the key stream: (row, pos, cnt) with at most
    ``depth * width`` rows out, whatever the corpus size. ONE exchange;
    the map-side partial agg is the per-partition sketch, the reduce side
    adds sketches (mergeability for free)."""
    return (
        df.select(F.explode(_cms_positions(F.col(key_col), width=width, depth=depth)).alias("rp"))
        .select(F.col("rp.row").alias("row"), F.col("rp.pos").alias("pos"))
        .groupBy("row", "pos")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_estimate(
    keys: DataFrame,
    sketch: DataFrame,
    key_col: str = "key",
    *,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Frequency estimate per distinct probe key: min over the sketch rows
    of the key's counter (absent counter = 0). The sketch is <= depth*width
    rows, so the join broadcasts; the probe never rescans the corpus."""
    probe = (
        keys.select(F.col(key_col).alias("key"))
        .distinct()
        .select(
            "key",
            F.explode(_cms_positions(F.col("key"), width=width, depth=depth)).alias("rp"),
        )
        .select("key", F.col("rp.row").alias("row"), F.col("rp.pos").alias("pos"))
    )
    return (
        probe.join(F.broadcast(sketch), ["row", "pos"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias("est"))
    )


def heavy_hitters(
    df: DataFrame,
    key_col: str = "key",
    *,
    width: int = 1024,
    depth: int = 4,
    min_count: int = 2,
) -> DataFrame:
    """Keys whose count-min estimate reaches ``min_count``. est >= true
    means NO false negatives: every true heavy hitter survives; collision
    inflation can only add candidates (resolved exactly downstream, same
    contract as the Bloom prefilter)."""
    sketch = cms_build(df, key_col, width=width, depth=depth)
    est = cms_estimate(df.select(key_col), sketch, key_col, width=width, depth=depth)
    return est.where(F.col("est") >= min_count)


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------

#: rank is 1 + trailing-zero-count of the rank hash, capped at _R_MAX + 1.
_R_MAX = 30
#: scale exponent for the integer harmonic sum: term_j = 2^(_R_SCALE - M_j).
_R_SCALE = 31
#: alpha_m = 0.7213 / (1 + 1.079/m) quantized at 1e-3 (Flajolet et al.
#: 2007 eq. 3) — integer so both engines compute the identical estimate.
_ALPHA_MILLI = {64: 709, 128: 715, 256: 718}
#: register hash: mult 37; rank hash: mult 41 then SQUARED mod p. Any two
#: linear poly folds share the "+ last_char" term, so register low bits
#: and rank trailing zeros shift together for near-identical keys and the
#: estimate collapses (measured 6x low on sequential-suffix keys). The
#: squaring is the cheapest portable nonlinearity: h^2 < 1e18 stays exact
#: in BIGINT in both engines and the mod-p reduction scrambles low bits.
_REG_INIT, _REG_MULT = 312_994_679, 37
_RHO_INIT, _RHO_MULT = 100_998_283, 41


def _rho(col) -> F.Column:
    """1 + trailing zeros of the rank hash (capped at _R_MAX + 1): the
    divisor array [2, 4, ..., 2^_R_MAX] is a literal; h is divisible by
    2^p exactly for p <= trailing_zeros(h).

    Rank hash = square mod p, then one xor-shift (h ^= h >> 13). The
    square alone still carries quadratic-residue structure in its LOW
    bits: on sequential-suffix families ('k1000'..'k3999') the rho tail
    was ~2x over-represented at 6-7 and the raw estimate ran +63%. The
    xor-shift folds high bits into the trailing-zero region and levels
    every tested family to <=10% (sequential, url-shaped, word#id,
    multiplicative-hash keys). Both steps are integer-exact and portable:
    h^2 < p^2 < 2^60 in BIGINT, and xor/shiftright are bit-identical in
    Spark and DuckDB."""
    h_lin = _poly_hash_m(col, init=_RHO_INIT, mult=_RHO_MULT)
    hsq = (h_lin * h_lin) % POLY_MOD
    h = hsq.bitwiseXOR(F.shiftright(hsq, 13))
    divisors = F.array(*[F.lit(1 << p).cast("long") for p in range(1, _R_MAX + 1)])
    return (F.size(F.filter(divisors, lambda d: h % d == 0)) + 1).cast("int")


def hll_registers(df: DataFrame, key_col: str = "key", *, m: int = 128) -> DataFrame:
    """HyperLogLog register table: (register, max_rho), at most ``m`` rows.
    Same mergeability-via-partial-agg shape as cms_build (max instead of
    sum)."""
    reg = _poly_hash_m(F.col(key_col), init=_REG_INIT, mult=_REG_MULT) % m
    return (
        df.select(reg.cast("int").alias("register"), _rho(F.col(key_col)).alias("rho"))
        .groupBy("register")
        .agg(F.max("rho").alias("max_rho"))
    )


def hdr_buckets(df: DataFrame, value_col: str, *, sub_bits: int = 5) -> DataFrame:
    """HDR-histogram quantile sketch (Tene's HdrHistogram bucketing; same
    guarantee family as DDSketch, Masson et al. 2019): positive values
    collapse onto log2-spaced buckets with ``2^sub_bits`` linear
    sub-buckets per octave, so the bucket LOWER BOUND underestimates the
    true value by a relative error < 2^-sub_bits. Completes the sketch
    toolbox: CMS = frequency, HLL = cardinality, HDR = distribution shape
    (corpus length/score percentiles WITHOUT a global sort).

    Bucketing is pure integer arithmetic — exponent via length(bin(v))-1
    (both engines print minimal binary), lower bound via v - v % 2^shift —
    so every bucket and quantile is bit-identical under any partitioning
    and exactly re-derivable by the DuckDB oracle. ONE map-side-combined
    exchange; the partial agg is the per-partition histogram and the merge
    adds counts (mergeability from Spark's partial-agg machinery, as with
    cms_build/hll_registers). Output is bounded by 64 * 2^sub_bits rows
    whatever the corpus size.

    Values are clamped to >= 1 (zero/negative land in the first bucket —
    corpus stats here are lengths/counts, never negative)."""
    v = F.greatest(F.col(value_col).cast("long"), F.lit(1).cast("long"))
    exp = (F.length(F.bin(v)) - 1).cast("int")
    shift = F.greatest(exp - F.lit(sub_bits), F.lit(0))
    # 2^shift is a power of two: exact in binary64 for any shift < 63.
    pw = F.pow(F.lit(2.0), shift.cast("double")).cast("long")
    lb = (v - v % pw).alias("lb")
    return df.select(lb).groupBy("lb").agg(F.count(F.lit(1)).cast("long").alias("cnt"))


def hdr_quantiles(
    buckets: DataFrame, *, q_millis: tuple = (500, 900, 990, 999)
) -> DataFrame:
    """Quantile estimates from the bounded bucket table: for each q (in
    milli-units), rank = ceil(q * N / 1000) and the estimate is the lower
    bound of the first bucket whose cumulative count reaches the rank —
    integer-exact end to end. The window sort runs over the <= 64*2^b
    bucket rows, never the corpus. Output: (q_milli, est, total)."""
    from pyspark.sql import Window

    cum = F.sum("cnt").over(Window.orderBy("lb").rowsBetween(Window.unboundedPreceding, 0))
    total = F.sum("cnt").over(Window.partitionBy())
    b = buckets.select("lb", cum.alias("cum"), total.alias("total"))
    qs = F.explode(F.array(*[F.lit(int(q)) for q in q_millis])).alias("q_milli")
    return (
        b.select("lb", "cum", "total", qs)
        .where(F.col("cum") * 1000 >= F.col("q_milli") * F.col("total"))
        .groupBy("q_milli")
        .agg(F.min("lb").alias("est"), F.first("total").alias("total"))
    )


def hll_union(reg_a: DataFrame, reg_b: DataFrame) -> DataFrame:
    """Sketch-level set union: register-wise max of two HLL register
    tables. This is the lossless merge HLL is FAMOUS for — the union
    sketch is EXACTLY the sketch of the concatenated inputs (max is
    associative/commutative/idempotent), so set algebra over crawls
    (|A ∪ B|, and |A ∩ B| by inclusion-exclusion over three estimates)
    runs on <=m-row tables instead of re-scanning either corpus. Bounded:
    one groupBy over at most 2m rows."""
    return (
        reg_a.unionByName(reg_b)
        .groupBy("register")
        .agg(F.max("max_rho").alias("max_rho"))
    )


def hll_estimate(registers: DataFrame, *, m: int = 128) -> DataFrame:
    """Raw HLL estimate from the register table, integer-exact:

        S = sum_present 2^(_R_SCALE - max_rho) + (m - n_present) * 2^_R_SCALE
        E = (alpha_milli * m^2 * 2^_R_SCALE) div (1000 * S)

    2^n for n <= 62 is exact in binary64, so the pow/cast round-trips
    identically in Spark and DuckDB. The small/large-range bias
    corrections of the paper are deliberately omitted (they need ln()
    whose libm ulps differ across engines); the raw estimator keeps the
    standard 1.04/sqrt(m) relative error in the mid-range the unit test
    asserts. Output: ONE row (m, n_registers_set, harmonic_scaled,
    estimate)."""
    alpha_milli = _ALPHA_MILLI[m]
    return registers.agg(
        F.lit(m).alias("m"),
        F.count(F.lit(1)).cast("int").alias("n_registers_set"),
        (
            F.sum(F.pow(F.lit(2.0), F.lit(_R_SCALE) - F.col("max_rho")).cast("long"))
            + (F.lit(m) - F.count(F.lit(1))) * F.lit(1 << _R_SCALE).cast("long")
        ).alias("harmonic_scaled"),
    ).select(
        "m",
        "n_registers_set",
        "harmonic_scaled",
        F.expr(
            f"(cast({alpha_milli} as bigint) * m * m * cast({1 << _R_SCALE} as bigint))"
            " div (cast(1000 as bigint) * harmonic_scaled)"
        ).alias("estimate"),
    )
