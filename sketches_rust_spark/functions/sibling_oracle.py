"""DuckDB-oracle SQL for the hashed sibling sketches (HLL, KMV, CMS, Bloom).

These sketches are deterministic functions of (data, hash, parameters). The
engine hashes with SplitMix64 — chosen because it is expressible in portable
integer SQL — so the oracle can recompute the *identical* registers /
counters / bit positions in DuckDB:

* 64-bit wraparound multiplication is emulated with 32-bit limbs inside
  HUGEINT (int128) arithmetic;
* count-leading-zeros is bit-smearing + bit_count;
* everything else is integer ops, so register contents match bit-for-bit and
  estimates match after shared rounding.

Each rule is written once: ``_hashed`` is the id hash, ``_km_cell`` the
Kirsch-Mitzenmacher cell of CMS rows and Bloom bits (kernel.bits.km_cells;
``operators/topk.py`` reuses it), ``_probe_hashes`` the hashed probe list,
``_theta_ctes`` the per-side theta of both KMV set oracles, and
``oracle.group_sql`` the optional group-column clauses.

t-digest and KLL are intentionally absent: their state depends on input
order (centroid merging / compaction coin flips), so they get rows-only
driver checks plus error-bound pytest coverage instead.
"""

from __future__ import annotations

from ..kernel.hll import _alpha
from .oracle import group_sql

_M64 = "18446744073709551616"


def _mul64_const(a: str, c: int) -> str:
    clo, chi = c & 0xFFFFFFFF, c >> 32
    lo = f"(CAST((({a}) & 4294967295) AS HUGEINT) * {clo})"
    mid = (f"((CAST((({a}) & 4294967295) AS HUGEINT) * {chi}) + "
           f"(CAST((({a}) >> 32) AS HUGEINT) * {clo}))")
    return f"CAST((({lo} + (({mid} % 4294967296) * 4294967296)) % {_M64}) AS UBIGINT)"


def _add64_const(a: str, c: int) -> str:
    return f"CAST(((CAST(({a}) AS HUGEINT) + {c}) % {_M64}) AS UBIGINT)"


def splitmix64_sql(x: str) -> str:
    """SplitMix64 of a UBIGINT expression, bit-identical to kernel.bits."""
    z0 = _add64_const(x, 0x9E3779B97F4A7C15)
    z1 = f"xor({z0}, ({z0}) >> 30)"
    z2 = _mul64_const(z1, 0xBF58476D1CE4E5B9)
    z3 = f"xor({z2}, ({z2}) >> 27)"
    z4 = _mul64_const(z3, 0x94D049BB133111EB)
    return f"xor({z4}, ({z4}) >> 31)"


_CLZ_SMEAR = """
sm1 AS (SELECT *, w | (w >> 1) AS a FROM {src}),
sm2 AS (SELECT * EXCLUDE a, a | (a >> 2) AS a FROM sm1),
sm3 AS (SELECT * EXCLUDE a, a | (a >> 4) AS a FROM sm2),
sm4 AS (SELECT * EXCLUDE a, a | (a >> 8) AS a FROM sm3),
sm5 AS (SELECT * EXCLUDE a, a | (a >> 16) AS a FROM sm4),
smf AS (SELECT * EXCLUDE a, 64 - bit_count(a) AS clz FROM (SELECT * EXCLUDE a, a | (a >> 32) AS a FROM sm5))
"""


def _hashed(id_expr: str) -> str:
    """SplitMix64 of an id expression cast to UBIGINT: the engine's
    ``hash_mode='splitmix'`` hash of the same id."""
    return splitmix64_sql(f"CAST({id_expr} AS UBIGINT)")


# Kirsch-Mitzenmacher halves of hash column h (kernel.bits.km_cells)
_LO, _HI = "h & 4294967295", "(h >> 32) | 1"
# one row r.i per CMS row / Bloom hash function
_ROWS = "(SELECT unnest(range(0, {n})) AS i) r"


def _km_cell(mod: int, lo: str = _LO, hi: str = _HI) -> str:
    """Cell r.i of hash column h: (lo + r.i*hi) mod ``mod``, in HUGEINT so
    the product cannot wrap — kernel.bits.km_cells in SQL."""
    return (f"CAST((CAST({lo} AS HUGEINT) + CAST(r.i AS HUGEINT) * "
            f"CAST({hi} AS HUGEINT)) % {mod} AS BIGINT)")


def _probe_hashes(probes: list[int]) -> str:
    """(probe, h) rows for a fixed integer probe list."""
    probes_sql = ", ".join(str(int(x)) for x in probes)
    return (f"SELECT probe, {_hashed('probe')} AS h FROM "
            f"(SELECT unnest([{probes_sql}]) AS probe)")


def hll_oracle_sql(table: str, id_expr: str, group_cols: list[str], p: int,
                   round_digits: int = 2, where: str = "") -> str:
    """HLL estimate per group, register-identical to the engine."""
    m = 1 << p
    alpha = _alpha(m)
    _, gpre, gby, _ = group_sql(group_cols)
    wh = f"WHERE ({where})" if where else ""
    return f"""
WITH hashed AS (
  SELECT {gpre}{_hashed(id_expr)} AS h FROM {table} {wh}
),
bw AS (
  SELECT {gpre}h >> {64 - p} AS bucket,
         CAST(((CAST(h AS HUGEINT) * {1 << p}) % {_M64}) AS UBIGINT) AS w
  FROM hashed
),
{_CLZ_SMEAR.format(src='bw')},
regs AS (
  SELECT {gpre}bucket, max(least(clz + 1, {64 - p + 1})) AS r
  FROM smf GROUP BY {gpre}bucket
),
agg AS (
  SELECT {gpre}count(*) AS nb, sum(power(2.0, -r)) AS s
  FROM regs {gby}
)
SELECT {gpre}
  round(CASE WHEN (CAST({alpha!r} AS DOUBLE) * {m} * {m} / (s + ({m} - nb))) <= {2.5 * m}
              AND ({m} - nb) > 0
         THEN {m} * ln({m}::DOUBLE / ({m} - nb))
         ELSE CAST({alpha!r} AS DOUBLE) * {m} * {m} / (s + ({m} - nb)) END, {round_digits}) AS est
FROM agg
"""


def kmv_oracle_sql(table: str, id_expr: str, group_cols: list[str], k: int,
                   round_digits: int = 2, where: str = "") -> str:
    """KMV distinct estimate per group, retained-hash-set-identical to the
    engine: bottom-k of the distinct SplitMix64 hashes; exact count below k,
    else (k-1)*2^64/h_(k) with the same double arithmetic order."""
    _, gpre, gby, part = group_sql(group_cols)
    wh = f"WHERE ({where})" if where else ""
    return f"""
WITH hashed AS (
  SELECT DISTINCT {gpre}{_hashed(id_expr)} AS h FROM {table} {wh}
),
rk AS (
  SELECT {gpre}h, row_number() OVER ({part} ORDER BY h) AS r FROM hashed
),
agg AS (
  SELECT {gpre}count(*) AS n,
         max(CASE WHEN r = {k} THEN h END) AS hk
  FROM rk {gby}
)
SELECT {gpre}
  round(CASE WHEN n < {k} THEN CAST(n AS DOUBLE)
        ELSE ({k} - 1) * 18446744073709551616.0 / CAST(hk AS DOUBLE) END,
        {round_digits}) AS est
FROM agg
"""


def _theta_ctes(table: str, id_expr: str, group_col: str, group_a: str,
                group_b: str, k: int) -> str:
    """The CTEs both theta-set oracles share, as KMV.intersection_estimate
    and KMV.difference_estimate build them: per side, its distinct hashes
    (h_), their ranks (r_) and its theta (t_: the k-th smallest hash, 2^64
    below capacity); then th, the smaller of the two thetas."""
    def side(name: str, gval: str) -> str:
        return f"""
h_{name} AS (
  SELECT DISTINCT {_hashed(id_expr)} AS h FROM {table} WHERE {group_col} = '{gval}'
),
r_{name} AS (
  SELECT h, row_number() OVER (ORDER BY h) AS r FROM h_{name}
),
t_{name} AS (
  SELECT CASE WHEN count(*) >= {k}
          THEN CAST(max(CASE WHEN r = {k} THEN h END) AS HUGEINT)
          ELSE CAST({_M64} AS HUGEINT) END AS theta
  FROM r_{name}
)"""

    return (f"{side('a', group_a).lstrip()},{side('b', group_b)},\n"
            "th AS (SELECT least(t_a.theta, t_b.theta) AS theta FROM t_a, t_b)")


def kmv_intersection_oracle_sql(table: str, id_expr: str, group_col: str,
                                group_a: str, group_b: str, k: int,
                                round_digits: int = 2) -> str:
    """Theta-sketch intersection estimate between two groups' id sets,
    arithmetic-identical to KMV.intersection_estimate: theta = min of the
    two k-th smallest hashes (2^64 when below capacity), count common
    retained hashes below theta, scale by 2^64/theta."""
    return f"""
WITH {_theta_ctes(table, id_expr, group_col, group_a, group_b, k)},
common AS (
  SELECT count(*) AS c
  FROM r_a JOIN r_b USING (h), th
  WHERE r_a.r <= {k} AND r_b.r <= {k} AND CAST(h AS HUGEINT) < th.theta
)
SELECT round(CAST(c AS DOUBLE) * 18446744073709551616.0
             / CAST(theta AS DOUBLE), {round_digits}) AS est_common
FROM common, th
"""


def kmv_difference_oracle_sql(table: str, id_expr: str, group_col: str,
                              group_a: str, group_b: str, k: int,
                              round_digits: int = 2) -> str:
    """Theta-sketch set-difference estimate |A ∖ B| between two groups' id
    sets, arithmetic-identical to KMV.difference_estimate: theta = min of
    the two k-th smallest hashes (2^64 below capacity), count retained A
    hashes below theta absent from B's retained set, scale by 2^64/theta."""
    return f"""
WITH {_theta_ctes(table, id_expr, group_col, group_a, group_b, k)},
only_a AS (
  SELECT count(*) AS c
  FROM r_a, th
  WHERE r_a.r <= {k} AND CAST(r_a.h AS HUGEINT) < th.theta
    AND NOT EXISTS (SELECT 1 FROM r_b
                    WHERE r_b.h = r_a.h AND r_b.r <= {k}
                      AND CAST(r_b.h AS HUGEINT) < th.theta)
)
SELECT round(CAST(c AS DOUBLE) * 18446744073709551616.0
             / CAST(theta AS DOUBLE), {round_digits}) AS est_diff
FROM only_a, th
"""


def cms_oracle_sql(table: str, id_expr: str, probes: list[int],
                   depth: int, width: int, where: str = "") -> str:
    """CMS point estimates for a fixed integer probe list, counter-identical
    to the engine (Kirsch-Mitzenmacher rows from one SplitMix64 hash)."""
    wh = f"WHERE ({where})" if where else ""
    rows = _ROWS.format(n=depth)
    return f"""
WITH hashed AS (SELECT {_hashed(id_expr)} AS h FROM {table} {wh}),
parts AS (
  SELECT {_LO} AS lo, {_HI} AS hi FROM hashed
),
cells AS (
  SELECT r.i AS row_i,
         {_km_cell(width, "lo", "hi")} AS idx,
         count(*) AS c
  FROM parts, {rows}
  GROUP BY 1, 2
),
probe_h AS (
  {_probe_hashes(probes)}
),
probe_cells AS (
  SELECT probe, r.i AS row_i,
         {_km_cell(width)} AS idx
  FROM probe_h, {rows}
)
SELECT CAST(p.probe AS BIGINT) AS probe, CAST(min(coalesce(c.c, 0)) AS BIGINT) AS est
FROM probe_cells p LEFT JOIN cells c USING (row_i, idx)
GROUP BY p.probe
"""


def bloom_oracle_sql(table: str, id_expr: str, probes: list[int],
                     m_bits: int, k: int, where: str = "") -> str:
    """Bloom membership for a fixed probe list, bit-position-identical."""
    wh = f"WHERE ({where})" if where else ""
    rows = _ROWS.format(n=k)
    return f"""
WITH hashed AS (SELECT DISTINCT {_hashed(id_expr)} AS h FROM {table} {wh}),
set_bits AS (
  SELECT DISTINCT {_km_cell(m_bits)} AS pos
  FROM hashed, {rows}
),
probe_bits AS (
  SELECT probe, {_km_cell(m_bits)} AS pos
  FROM ({_probe_hashes(probes)}),
       {rows}
)
SELECT CAST(probe AS BIGINT) AS probe, CAST(bool_and(pos IN (SELECT pos FROM set_bits)) AS BOOLEAN) AS member
FROM probe_bits
GROUP BY probe
"""
