"""DuckDB-oracle SQL generation for DDSketch queries.

The DDSketch estimate is a *deterministic* function of the data and the
mapping parameters, so it can be re-expressed in ANSI SQL: bucket each value
with the same trunc rule (SURVEY.md §8 N1), walk buckets in value order
(negative store by descending index, zero bucket, positive store ascending),
and pick the first bucket whose cumulative count exceeds rank = q*(n-1).

The exact multiplier / relative-accuracy doubles are interpolated into the
SQL text via repr(), so DuckDB parses the same parameters the kernel uses.
Only the LOG layout is SQL-expressible (LogCubic needs f64 bit extraction);
queries that want hash-matched oracles use LOG.

Float caveat: numpy's vectorized ln/exp can differ from libm by 1 ulp. A
bucket index only flips if ln(v)*m falls within ~1e-13 of an integer, and a
rounded output only flips within ~1e-12 of a rounding boundary — both are
checked against the fixed test data by tests/test_entry_contract.py.

LogCubic (layout='cubic') IS SQL-expressible despite the f64 bit extraction:
for normal doubles the IEEE exponent e is floor(log2(v)) with a CASE
correction verified by the EXACT division v / 2^e (division by a power of
two is exact, so the correction repairs any libm log2 rounding), and the
significand is that exact quotient minus one. The cubic polynomial and the
Cardano inverse are plain double arithmetic replicated with the kernel's
operation order (constants below are precomputed with identical
associativity). Verified exactly index-for-index against the kernel on 70k+
values including power-of-two neighbors; the inverse agrees to ~1 ulp
(DuckDB's cbrt vs numpy's — same class as the ln caveat above).
"""

from __future__ import annotations

from ..kernel.mapping import LOG, LOG_CUBIC, IndexMapping, _A, _B, _C

ROUND_DIGITS = 5

# Cardano constants with the kernel's exact evaluation order
# (mapping.py:_log_inverse); repr()-interpolated into the SQL text.
_D0 = _B * _B - 3.0 * _A * _C
_K1 = 2.0 * _B * _B * _B - 9.0 * _A * _B * _C
_K2 = 27.0 * _A * _A
_K3 = 4.0 * _D0 * _D0 * _D0
_K4 = 3.0 * _A

_LAYOUTS = {"log": LOG, "cubic": LOG_CUBIC}


def mapping_params(alpha: float, layout: str) -> tuple[float, float, float]:
    m = IndexMapping.with_relative_accuracy(_LAYOUTS[layout], alpha)
    return m.multiplier, m.relative_accuracy, m.min_indexable_value()


def log_mapping_params(alpha: float) -> tuple[float, float, float]:
    return mapping_params(alpha, "log")


def group_sql(group_cols: list[str]) -> tuple[str, str, str, str]:
    """(select list, select prefix, GROUP BY, PARTITION BY) texts of the
    optional group columns; all four are empty when there are none."""
    if not group_cols:
        return "", "", "", ""
    gsel = ", ".join(group_cols)
    return gsel, f"{gsel}, ", f"GROUP BY {gsel}", f"PARTITION BY {gsel}"


def _log_expr(mult: float, layout: str, value_sql: str = "v") -> str:
    """mapping._log(|value|) * multiplier as a SQL double expression."""
    if layout == "log":
        return f"ln(abs({value_sql})) * {mult!r}"
    # LogCubic: e = IEEE exponent of |v| (floor(log2) + exact-division
    # correction handles any libm rounding at power-of-two boundaries),
    # s = |v|/2^e - 1 (exact), then the cubic in the kernel's op order.
    av = f"abs({value_sql})"
    e0 = f"floor(log2({av}))"
    e = (f"({e0} + (CASE WHEN {av} / pow(2.0, {e0}) >= 2.0 THEN 1.0 "
         f"WHEN {av} / pow(2.0, {e0}) < 1.0 THEN -1.0 ELSE 0.0 END))")
    s = f"({av} / pow(2.0, {e}) - 1.0)"
    return (f"((({_A!r} * {s} + {_B!r}) * {s} + {_C!r}) * {s} + {e})"
            f" * {mult!r}")


def _bucket_exprs(mult: float, min_indexed: float, value_sql: str = "v",
                  layout: str = "log"):
    """(side, idx) bucketing SQL for a double expression."""
    lnm = _log_expr(mult, layout, value_sql)
    side = (f"CASE WHEN {value_sql} > {min_indexed!r} THEN 1 "
            f"WHEN {value_sql} < -{min_indexed!r} THEN -1 ELSE 0 END")
    idx = (f"CASE WHEN abs({value_sql}) > {min_indexed!r} THEN "
           f"(CASE WHEN {lnm} >= 0 THEN CAST(trunc({lnm}) AS BIGINT) "
           f"ELSE CAST(trunc({lnm} - 1.0) AS BIGINT) END) ELSE 0 END")
    return side, idx


def _bucket_value(mult: float, ra: float, layout: str = "log") -> str:
    """Representative value of bucket (side, idx): side * lower_bound * (1+ra)."""
    if layout == "log":
        lb = f"exp(idx / {mult!r})"
    else:
        # Cardano inverse of the cubic (mapping.py:_log_inverse), then
        # build_double: 2^e * significand with the >=2.0 wrap matching the
        # kernel's significand bit masking (exact: *0.5 and 2^e are exact).
        idxf = f"(CAST(idx AS DOUBLE) / {mult!r})"
        frac = f"({idxf} - floor({idxf}))"
        d1 = f"({_K1!r} - {_K2!r} * {frac})"
        p = f"cbrt(({d1} - sqrt({d1} * {d1} - {_K3!r})) / 2.0)"
        sig = f"greatest(1.0, -(({_B!r} + {p}) + ({_D0!r} / {p})) / {_K4!r} + 1.0)"
        lb = (f"pow(2.0, floor({idxf})) * (CASE WHEN {sig} >= 2.0 "
              f"THEN {sig} * 0.5 ELSE {sig} END)")
    return f"(CASE WHEN side = 0 THEN 0.0 ELSE side * {lb} * {1.0 + ra!r} END)"


def ddsketch_quantile_oracle_sql(
    table: str,
    value_expr: str,
    group_cols: list[str],
    quantiles: dict[str, float],
    alpha: float,
    where: str = "",
    weight_expr: str = "",
    collapse: str | None = None,
    max_bins: int = 0,
    layout: str = "log",
) -> str:
    """Full two-sided DDSketch quantile estimate in SQL.

    quantiles: {output_column_name: q}. Output columns are rounded to
    ROUND_DIGITS; group columns pass through under their own names.
    weight_expr: optional per-row weight (weighted insert semantics —
    non-positive/NaN weights dropped, matching DDSketch.accept_many).
    collapse: 'lowest' | 'highest' applies the collapsing store's bucket cap
    (keep the top/bottom max_bins index RANGE per (group, side), fold the
    rest into the boundary bucket) before the walk — the order-insensitive
    collapse the engine's stores implement.
    """
    if collapse is not None and max_bins < 1:
        raise ValueError(
            f"collapse={collapse!r} requires max_bins >= 1, got {max_bins} "
            "(a 0-bin clamp would silently fold every bucket into one)")
    mult, ra, min_indexed = mapping_params(alpha, layout)
    side, idx = _bucket_exprs(mult, min_indexed, layout=layout)
    gsel, gpre, gby, part = group_sql(group_cols)
    wh = f"AND ({where})" if where else ""
    if weight_expr:
        wsel = f"CAST({weight_expr} AS DOUBLE) AS w"
        wguard = (f"AND {weight_expr} IS NOT NULL "
                  f"AND CAST({weight_expr} AS DOUBLE) > 0")
        agg_c = "sum(w)"
    else:
        wsel = "1.0 AS w"
        wguard = ""
        agg_c = "CAST(count(*) AS DOUBLE)"
    bucket_value = _bucket_value(mult, ra, layout=layout)
    qcols = ",\n       ".join(
        f"round(min(CASE WHEN cum > {q!r} * (n - 1) THEN bv END), {ROUND_DIGITS}) AS {name}"
        for name, q in quantiles.items()
    )
    if collapse is None:
        collapse_ctes = ""
        walk_src = "buckets"
    else:
        spart = f"PARTITION BY {gpre}side"
        if collapse == "lowest":
            clamp = f"greatest(idx, max(idx) OVER ({spart}) - {max_bins - 1})"
        elif collapse == "highest":
            clamp = f"least(idx, min(idx) OVER ({spart}) + {max_bins - 1})"
        else:
            raise ValueError(f"collapse must be lowest/highest, got {collapse}")
        collapse_ctes = f""",
clamped AS (
  SELECT {gpre}side, CASE WHEN side = 0 THEN idx ELSE {clamp} END AS idx, c
  FROM buckets
),
folded AS (
  SELECT {gpre}side, idx, sum(c) AS c
  FROM clamped
  GROUP BY {'ALL' if not group_cols else gsel + ', side, idx'}
)"""
        walk_src = "folded"
    return f"""
WITH vals AS (
  SELECT {gpre}CAST({value_expr} AS DOUBLE) AS v, {wsel}
  FROM {table}
  WHERE {value_expr} IS NOT NULL AND isfinite(CAST({value_expr} AS DOUBLE)) {wh} {wguard}
),
buckets AS (
  SELECT {gpre}{side} AS side, {idx} AS idx, {agg_c} AS c
  FROM vals
  GROUP BY {'ALL' if not group_cols else gsel + ', side, idx'}
){collapse_ctes},
walk AS (
  SELECT {gpre}side, idx, c, {bucket_value} AS bv,
         sum(c) OVER ({part}
           ORDER BY side ASC, (CASE WHEN side = -1 THEN -idx ELSE idx END) ASC) AS cum,
         sum(c) OVER ({part}) AS n
  FROM {walk_src}
)
SELECT {gpre}{qcols}
FROM walk
{gby}
"""


def ddsketch_stats_oracle_sql(
    table: str,
    value_expr: str,
    group_cols: list[str],
    alpha: float,
    where: str = "",
) -> str:
    """count (exact), and sketch-estimated sum/avg/min/max in SQL."""
    mult, ra, min_indexed = log_mapping_params(alpha)
    side, idx = _bucket_exprs(mult, min_indexed)
    gsel, gpre, gby, _ = group_sql(group_cols)
    wh = f"AND ({where})" if where else ""
    bucket_value = _bucket_value(mult, ra)
    return f"""
WITH vals AS (
  SELECT {gpre}CAST({value_expr} AS DOUBLE) AS v
  FROM {table}
  WHERE {value_expr} IS NOT NULL AND isfinite(CAST({value_expr} AS DOUBLE)) {wh}
),
buckets AS (
  SELECT {gpre}{side} AS side, {idx} AS idx, CAST(count(*) AS DOUBLE) AS c
  FROM vals
  GROUP BY {'ALL' if not group_cols else gsel + ', side, idx'}
),
valued AS (
  SELECT {gpre}side, idx, c, {bucket_value} AS bv FROM buckets
)
SELECT {gpre}
       CAST(sum(c) AS BIGINT) AS cnt,
       round(sum(bv * c), {ROUND_DIGITS}) AS sum_est,
       round(sum(bv * c) / sum(c), {ROUND_DIGITS}) AS avg_est,
       round(min(bv), {ROUND_DIGITS}) AS min_est,
       round(max(bv), {ROUND_DIGITS}) AS max_est
FROM valued
{gby}
"""
