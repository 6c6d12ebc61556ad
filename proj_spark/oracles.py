"""DuckDB-SQL mirrors of the numpy coordinate kernels.

The driver's correctness gate runs every ``__spark_entry__.queries()`` entry
against an ANSI-SQL oracle in DuckDB. For closed-form kernels that is easy;
for the series kernels (Poder/Engsager tmerc, cart/helmert pipelines) this
module GENERATES the SQL by unrolling the exact numpy evaluation order —
same Clenshaw recurrences, same association, same constants (inlined via
``repr`` so they round-trip bit-exactly). The only cross-engine deltas left
are libm-vs-numpy transcendental ulps (~1e-16 relative), which the query
layer absorbs by rounding outputs at centimetre granularity.

Each emitter appends ``(column_name, sql_expression)`` pairs to a list;
``chain_sql`` folds the list into a nested-CTE pipeline (one projection per
column, so expressions stay shallow and strictly ordered).
"""

from __future__ import annotations

from proj_spark.kernels.tmerc import TMercExact


def chain_sql(base_select: str, cols: list[tuple[str, str]], final_select: str) -> str:
    """base_select provides the seed columns; each (name, expr) becomes one
    CTE layer ``SELECT *, expr AS name FROM prev``; final_select runs last."""
    parts = [f"c0 AS ({base_select})"]
    for k, (name, expr) in enumerate(cols, 1):
        parts.append(f"c{k} AS (SELECT *, {expr} AS {name} FROM c{k - 1})")
    return "WITH " + ",\n".join(parts) + f"\n{final_select} FROM c{len(cols)}"


def emit_gatg(cols: list, coefs, B: str, cos2B: str, sin2B: str, pfx: str) -> str:
    """Mirror kernels.tmerc._gatg: B + sin2B * clenshaw(coefs, 2B)."""
    cols.append((f"{pfx}tc", f"2.0 * {cos2B}"))
    prev1, prev2 = None, None
    cols.append((f"{pfx}h1_0", repr(coefs[-1])))
    prev1 = f"{pfx}h1_0"
    for k, c in enumerate(coefs[-2::-1], 1):
        h2 = prev2 if prev2 is not None else "0.0"
        cols.append((f"{pfx}h1_{k}", f"-({h2}) + {pfx}tc * {prev1} + {c!r}"))
        prev2, prev1 = prev1, f"{pfx}h1_{k}"
    cols.append((f"{pfx}res", f"{B} + {prev1} * {sin2B}"))
    return f"{pfx}res"


def emit_clen_complex(cols: list, coefs, sin_r: str, cos_r: str,
                      sinh_i: str, cosh_i: str, pfx: str) -> tuple[str, str]:
    """Mirror kernels.tmerc._clen_complex (complex Clenshaw, unrolled)."""
    cols.append((f"{pfx}r", f"2.0 * {cos_r} * {cosh_i}"))
    cols.append((f"{pfx}i", f"-2.0 * {sin_r} * {sinh_i}"))
    r, i = f"{pfx}r", f"{pfx}i"
    hr, hi = repr(coefs[-1]), "0.0"
    hr1 = hi1 = "0.0"
    cols.append((f"{pfx}hr_0", hr))
    cols.append((f"{pfx}hi_0", hi))
    hr, hi = f"{pfx}hr_0", f"{pfx}hi_0"
    for k, c in enumerate(coefs[-2::-1], 1):
        hr2, hi2 = hr1, hi1
        hr1, hi1 = hr, hi
        cols.append((f"{pfx}hr_{k}", f"-({hr2}) + {r} * {hr1} - {i} * {hi1} + {c!r}"))
        cols.append((f"{pfx}hi_{k}", f"-({hi2}) + {i} * {hr1} + {r} * {hi1}"))
        hr, hi = f"{pfx}hr_{k}", f"{pfx}hi_{k}"
    cols.append((f"{pfx}rr", f"{sin_r} * {cosh_i}"))
    cols.append((f"{pfx}ii", f"{cos_r} * {sinh_i}"))
    cols.append((f"{pfx}real", f"{pfx}rr * {hr} - {pfx}ii * {hi}"))
    cols.append((f"{pfx}imag", f"{pfx}rr * {hi} + {pfx}ii * {hr}"))
    return f"{pfx}real", f"{pfx}imag"


def asinh_sql(t: str) -> str:
    """Cancellation-safe asinh (DuckDB lacks the builtin)."""
    return (f"CASE WHEN {t} < 0 THEN -ln(-({t}) + sqrt({t} * {t} + 1.0)) "
            f"ELSE ln({t} + sqrt({t} * {t} + 1.0)) END")


def emit_tmerc_exact_fwd(cols: list, C: TMercExact, lam: str, phi: str,
                         pfx: str = "t") -> tuple[str, str]:
    """Mirror kernels.tmerc.exact_fwd; returns (x, y) column names in units
    of the semi-major axis (the ProjectionStep applies a/x0/y0 outside)."""
    cn0 = emit_gatg(cols, C.cbg, phi, f"cos(2 * {phi})", f"sin(2 * {phi})",
                    f"{pfx}g")
    cols.append((f"{pfx}sin_cn", f"sin({cn0})"))
    cols.append((f"{pfx}cos_cn", f"cos({cn0})"))
    cols.append((f"{pfx}sin_ce", f"sin({lam})"))
    cols.append((f"{pfx}cos_ce", f"cos({lam})"))
    p = pfx
    cols.append((f"{p}ccc", f"{p}cos_cn * {p}cos_ce"))
    cols.append((f"{p}cn1", f"atan2({p}sin_cn, {p}ccc)"))
    cols.append((f"{p}invd",
                 f"1.0 / sqrt({p}sin_cn * {p}sin_cn + {p}ccc * {p}ccc)"))
    cols.append((f"{p}tan_ce", f"{p}sin_ce * {p}cos_cn * {p}invd"))
    cols.append((f"{p}ce0", asinh_sql(f"{p}tan_ce")))
    cols.append((f"{p}two_inv", f"2.0 * {p}invd"))
    cols.append((f"{p}two_inv_sq", f"{p}two_inv * {p}invd"))
    cols.append((f"{p}tmp_r", f"{p}ccc * {p}two_inv_sq"))
    cols.append((f"{p}sin_arg_r", f"{p}sin_cn * {p}tmp_r"))
    cols.append((f"{p}cos_arg_r", f"{p}ccc * {p}tmp_r - 1.0"))
    cols.append((f"{p}sinh_arg_i", f"{p}tan_ce * {p}two_inv"))
    cols.append((f"{p}cosh_arg_i", f"{p}two_inv_sq - 1.0"))
    dcn, dce = emit_clen_complex(
        cols, C.gtu, f"{p}sin_arg_r", f"{p}cos_arg_r",
        f"{p}sinh_arg_i", f"{p}cosh_arg_i", f"{p}c")
    cols.append((f"{p}cn", f"{p}cn1 + {dcn}"))
    cols.append((f"{p}ce", f"{p}ce0 + {dce}"))
    cols.append((f"{p}y", f"{C.Qn!r} * {p}cn + {C.Zb!r}"))
    cols.append((f"{p}x", f"{C.Qn!r} * {p}ce"))
    return f"{p}x", f"{p}y"


def emit_cart_fwd(cols: list, ell, lam: str, phi: str, h: str,
                  pfx: str = "cf") -> tuple[str, str, str]:
    """Mirror kernels.cart.cart_fwd (Hofmann-Wellenhof & Moritz 5-27)."""
    p = pfx
    cols.append((f"{p}sinphi", f"sin({phi})"))
    cols.append((f"{p}cosphi", f"cos({phi})"))
    cols.append((f"{p}N",
                 f"{ell.a!r} / sqrt(1.0 - {ell.es!r} * {p}sinphi * {p}sinphi)"))
    cols.append((f"{p}X", f"({p}N + {h}) * {p}cosphi * cos({lam})"))
    cols.append((f"{p}Y", f"({p}N + {h}) * {p}cosphi * sin({lam})"))
    cols.append((f"{p}Z", f"({p}N * (1.0 - {ell.es!r}) + {h}) * {p}sinphi"))
    return f"{p}X", f"{p}Y", f"{p}Z"


def emit_cart_inv(cols: list, ell, X: str, Y: str, Z: str,
                  pfx: str = "ci") -> tuple[str, str, str]:
    """Mirror kernels.cart.cart_inv main branch (points away from the earth
    axis / poles — callers must guarantee that, as our derived points do)."""
    p = pfx
    cols.append((f"{p}xa", f"{X} * {ell.ra!r}"))
    cols.append((f"{p}ya", f"{Y} * {ell.ra!r}"))
    cols.append((f"{p}za", f"{Z} * {ell.ra!r}"))
    cols.append((f"{p}pa", f"sqrt({p}xa * {p}xa + {p}ya * {p}ya)"))
    ba = 1.0 - ell.f
    cols.append((f"{p}pb", f"{p}pa * {ba!r}"))
    cols.append((f"{p}norm", f"sqrt({p}za * {p}za + {p}pb * {p}pb)"))
    cols.append((f"{p}c", f"{p}pb * (1.0 / {p}norm)"))
    cols.append((f"{p}s", f"{p}za * (1.0 / {p}norm)"))
    cols.append((f"{p}yphi", f"{p}za + {ell.e2s!r} * {ba!r} * {p}s * {p}s * {p}s"))
    cols.append((f"{p}xphi", f"{p}pa - {ell.es!r} * {p}c * {p}c * {p}c"))
    cols.append((f"{p}normphi", f"sqrt({p}yphi * {p}yphi + {p}xphi * {p}xphi)"))
    cols.append((f"{p}cosphi", f"{p}xphi * (1.0 / {p}normphi)"))
    cols.append((f"{p}sinphi", f"{p}yphi * (1.0 / {p}normphi)"))
    cols.append((f"{p}phi", f"atan({p}yphi / {p}xphi)"))
    cols.append((f"{p}lam", f"atan2({p}ya, {p}xa)"))
    cols.append((f"{p}N",
                 f"{ell.a!r} / sqrt(1.0 - {ell.es!r} * {p}sinphi * {p}sinphi)"))
    cols.append((f"{p}h", f"{ell.a!r} * {p}pa / {p}cosphi - {p}N"))
    return f"{p}lam", f"{p}phi", f"{p}h"


def vincenty_inverse_sql(C, base_select: str, key: str, final_select: str) -> str:
    """Full Vincenty-inverse mirror (kernels.geodesic.geod_inverse) as a
    recursive CTE: per-row lambda iteration with the SAME freeze rule
    (|lam_new - lam| < 1e-13, frozen rows pass through), then the sigma
    quantities recomputed from the final lam exactly as the kernel does.

    ``base_select`` must yield columns ({key}, lon1, lat1, lon2, lat2) in
    degrees. ``final_select`` may reference s12, azi1, azi2, done, {key}.
    """
    f, a, b = C.f, C.a, C.b
    one_f = repr(1.0 - f)
    asq_bsq = repr(a * a - b * b)
    bsq = repr(b * b)

    # per-iteration update, written with DuckDB lateral column aliases so
    # each quantity is named once and evaluated in kernel order
    step_exprs = f"""
        sin(i.lam) AS sinl, cos(i.lam) AS cosl,
        sqrt((u.cosU2 * sinl) * (u.cosU2 * sinl)
             + (u.cosU1 * u.sinU2 - u.sinU1 * u.cosU2 * cosl)
             * (u.cosU1 * u.sinU2 - u.sinU1 * u.cosU2 * cosl)) AS sin_sig,
        u.sinU1 * u.sinU2 + u.cosU1 * u.cosU2 * cosl AS cos_sig,
        atan2(sin_sig, cos_sig) AS sig,
        CASE WHEN sin_sig = 0 THEN 0.0
             ELSE u.cosU1 * u.cosU2 * sinl / sin_sig END AS sin_alpha,
        1.0 - sin_alpha * sin_alpha AS cos2a,
        CASE WHEN cos2a = 0 THEN 0.0
             ELSE cos_sig - 2.0 * u.sinU1 * u.sinU2 / cos2a END AS cos2sm,
        {f!r} / 16.0 * cos2a * (4.0 + {f!r} * (4.0 - 3.0 * cos2a)) AS cc,
        u.L + (1.0 - cc) * {f!r} * sin_alpha * (sig + cc * sin_sig
            * (cos2sm + cc * cos_sig * (-1.0 + 2.0 * (cos2sm * cos2sm)))) AS lam_new
    """

    final_exprs = f"""
        sin(i.lam) AS sinl, cos(i.lam) AS cosl,
        sqrt((u.cosU2 * sinl) * (u.cosU2 * sinl)
             + (u.cosU1 * u.sinU2 - u.sinU1 * u.cosU2 * cosl)
             * (u.cosU1 * u.sinU2 - u.sinU1 * u.cosU2 * cosl)) AS sin_sig,
        u.sinU1 * u.sinU2 + u.cosU1 * u.cosU2 * cosl AS cos_sig,
        atan2(sin_sig, cos_sig) AS sig,
        CASE WHEN sin_sig = 0 THEN 0.0
             ELSE u.cosU1 * u.cosU2 * sinl / sin_sig END AS sin_alpha,
        1.0 - sin_alpha * sin_alpha AS cos2a,
        CASE WHEN cos2a = 0 THEN 0.0
             ELSE cos_sig - 2.0 * u.sinU1 * u.sinU2 / cos2a END AS cos2sm,
        cos2a * {asq_bsq} / {bsq} AS u2,
        1.0 + u2 / 16384.0 * (4096.0 + u2 * (-768.0 + u2 * (320.0 - 175.0 * u2))) AS bigA,
        u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2))) AS bigB,
        bigB * sin_sig * (cos2sm + bigB / 4.0 * (cos_sig
            * (-1.0 + 2.0 * (cos2sm * cos2sm))
            - bigB / 6.0 * cos2sm * (-3.0 + 4.0 * (sin_sig * sin_sig))
            * (-3.0 + 4.0 * (cos2sm * cos2sm)))) AS dsig,
        CASE WHEN sin_sig = 0 AND i.done THEN 0.0
             ELSE {b!r} * bigA * (sig - dsig) END AS s12,
        degrees(atan2(u.cosU2 * sin(i.lam),
                      u.cosU1 * u.sinU2 - u.sinU1 * u.cosU2 * cos(i.lam))) AS azi1,
        degrees(atan2(u.cosU1 * sin(i.lam),
                      -(u.sinU1) * u.cosU2 + u.cosU1 * u.sinU2 * cos(i.lam))) AS azi2,
        i.done AS done
    """

    return f"""
        WITH RECURSIVE pts AS ({base_select}),
        u AS (
          SELECT {key},
                 radians(lon2) - radians(lon1) AS L,
                 sin(atan({one_f} * tan(radians(lat1)))) AS sinU1,
                 cos(atan({one_f} * tan(radians(lat1)))) AS cosU1,
                 sin(atan({one_f} * tan(radians(lat2)))) AS sinU2,
                 cos(atan({one_f} * tan(radians(lat2)))) AS cosU2
          FROM pts),
        it AS (
          SELECT {key}, 0 AS k, L AS lam, FALSE AS done FROM u
          UNION ALL
          SELECT {key}, k + 1,
                 CASE WHEN done THEN lam ELSE lam_new END AS lam2,
                 done OR (abs(lam_new - lam) < 1e-13)
          FROM (
            SELECT i.{key}, i.k, i.lam, i.done, {step_exprs}
            FROM it i JOIN u ON i.{key} = u.{key}
            WHERE i.k < 50
          ) s
        ),
        fin AS (
          SELECT i.{key}, {final_exprs}
          FROM (SELECT * FROM it WHERE k = 50) i JOIN u ON i.{key} = u.{key}
        )
        {final_select}
    """


def s2_cell_sql(level: int, base_select: str, key: str) -> str:
    """Full S2 cell-id mirror (proj_spark.cells.s2_cell_id): cube-face
    selection, quadratic UV->ST, ST->ij truncation, then the Hilbert
    curve as a recursive CTE over the SAME 4-bit lookup table the numpy
    kernel uses (inlined as 1024 VALUES rows — integer-exact, so the only
    cross-engine risk is trig ulps at cell boundaries, ~1e-7 per point).

    ``base_select`` must yield ({key}, lon, lat) degrees."""
    from proj_spark.cells import _LOOKUP_POS, _POS_BITS, MAX_LEVEL

    lut = ", ".join(f"({i}, {int(v)})" for i, v in enumerate(_LOOKUP_POS))
    pow8 = ", ".join(f"({k}, {1 << (8 * k)})" for k in range(8))
    m64 = 1 << 64
    face_shift = 1 << (_POS_BITS - 1)        # 2^60
    ij_max = (1 << MAX_LEVEL) - 1
    lsb = 1 << (2 * (MAX_LEVEL - level))     # parent sentinel bit
    return f"""
        WITH RECURSIVE pts AS ({base_select}),
        lut(idx, val) AS (VALUES {lut}),
        p8(k, m) AS (VALUES {pow8}),
        xyz AS (
          SELECT {key},
                 cos(radians(lat)) * cos(radians(lon)) AS x,
                 cos(radians(lat)) * sin(radians(lon)) AS y,
                 sin(radians(lat)) AS z
          FROM pts),
        fc AS (
          SELECT {key}, x, y, z,
                 CASE WHEN abs(x) > abs(y)
                      THEN (CASE WHEN abs(x) > abs(z) THEN 0 ELSE 2 END)
                      ELSE (CASE WHEN abs(y) > abs(z) THEN 1 ELSE 2 END)
                 END AS f0
          FROM xyz),
        fv AS (
          SELECT {key}, x, y, z,
                 CASE WHEN f0 = 0 AND x < 0 THEN 3
                      WHEN f0 = 1 AND y < 0 THEN 4
                      WHEN f0 = 2 AND z < 0 THEN 5
                      ELSE f0 END AS face
          FROM fc),
        uv AS (
          SELECT {key}, face,
                 CASE face WHEN 0 THEN y / x WHEN 1 THEN -(x) / y
                           WHEN 2 THEN -(x) / z WHEN 3 THEN z / x
                           WHEN 4 THEN z / y ELSE -(y) / z END AS u,
                 CASE face WHEN 0 THEN z / x WHEN 1 THEN z / y
                           WHEN 2 THEN -(y) / z WHEN 3 THEN y / x
                           WHEN 4 THEN -(x) / y ELSE -(x) / z END AS v
          FROM fv),
        st AS (
          SELECT {key}, face,
                 CASE WHEN u >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * u)
                      ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * u) END AS s,
                 CASE WHEN v >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * v)
                      ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * v) END AS t
          FROM uv),
        fij AS (
          SELECT {key}, face,
                 least(greatest(CAST(trunc(s * {1 << MAX_LEVEL}.0) AS BIGINT), 0), {ij_max}) AS i,
                 least(greatest(CAST(trunc(t * {1 << MAX_LEVEL}.0) AS BIGINT), 0), {ij_max}) AS j
          FROM st),
        hil AS (
          SELECT {key}, 8 AS k, (face::HUGEINT * {face_shift}) AS n,
                 (face & 1)::BIGINT AS bits
          FROM fij
          UNION ALL
          SELECT s.{key}, s.k - 1,
                 s.n + (lut.val >> 2)::HUGEINT * p8.m,
                 (lut.val & 3)::BIGINT
          FROM (
            SELECT h.{key}, h.k, h.n,
                   h.bits + ((f.i >> ((h.k - 1) * 4)) & 15) * 64
                          + ((f.j >> ((h.k - 1) * 4)) & 15) * 4 AS idx
            FROM hil h JOIN fij f ON h.{key} = f.{key}
            WHERE h.k > 0
          ) s
          JOIN lut ON lut.idx = s.idx
          JOIN p8 ON p8.k = s.k - 1
        ),
        ids AS (
          SELECT {key}, (n * 2 + 1) AS idu FROM hil WHERE k = 0),
        par AS (
          SELECT {key}, (idu // {2 * lsb}) * {2 * lsb} + {lsb} AS pu FROM ids)
        SELECT {key},
               CAST(CASE WHEN pu >= {1 << 63} THEN pu - {m64} ELSE pu END AS BIGINT) AS cell
        FROM par
    """


def emit_helmert_fwd(cols: list, C, X: str, Y: str, Z: str,
                     pfx: str = "hm") -> tuple[str, str, str]:
    """Mirror kernels.helmert.helmert_fwd static 7-param (small-angle or
    exact, either convention): rotation entries + scale inlined as scalars
    computed by the SAME Python code the kernel runs."""
    from proj_spark.kernels.helmert import _rotation

    R = _rotation(C.rx, C.ry, C.rz, C.exact, C.position_vector)
    scale = 1.0 + C.s * 1e-6
    p = pfx
    rx0, ry0, rz0 = C.refp
    cols.append((f"{p}dX", f"{X} - {rx0!r}"))
    cols.append((f"{p}dY", f"{Y} - {ry0!r}"))
    cols.append((f"{p}dZ", f"{Z} - {rz0!r}"))
    for out, row, t in (("X", 0, C.x), ("Y", 1, C.y), ("Z", 2, C.z)):
        cols.append((
            f"{p}{out}",
            f"{scale!r} * ({R[row][0]!r} * {p}dX + {R[row][1]!r} * {p}dY"
            f" + {R[row][2]!r} * {p}dZ) + {t!r}",
        ))
    return f"{p}X", f"{p}Y", f"{p}Z"


def emit_helmert_inv(cols: list, C, X: str, Y: str, Z: str,
                     pfx: str = "hi") -> tuple[str, str, str]:
    """Mirror kernels.helmert.helmert_inv static 7-param: unscale /
    detranslate then multiply by the TRANSPOSE of the rotation matrix
    (reference src/transformations/helmert.cpp reverse path)."""
    from proj_spark.kernels.helmert import _rotation

    R = _rotation(C.rx, C.ry, C.rz, C.exact, C.position_vector)
    scale = 1.0 + C.s * 1e-6
    p = pfx
    rx0, ry0, rz0 = C.refp
    cols.append((f"{p}dX", f"({X} - {C.x!r}) / {scale!r}"))
    cols.append((f"{p}dY", f"({Y} - {C.y!r}) / {scale!r}"))
    cols.append((f"{p}dZ", f"({Z} - {C.z!r}) / {scale!r}"))
    for out, col, r0 in (("X", 0, rx0), ("Y", 1, ry0), ("Z", 2, rz0)):
        cols.append((
            f"{p}{out}",
            f"{R[0][col]!r} * {p}dX + {R[1][col]!r} * {p}dY"
            f" + {R[2][col]!r} * {p}dZ + {r0!r}",
        ))
    return f"{p}X", f"{p}Y", f"{p}Z"


def emit_helmert_kinematic_fwd(cols: list, C, X: str, Y: str, Z: str,
                               t: str, pfx: str = "kh"
                               ) -> tuple[str, str, str]:
    """Mirror kernels.helmert.helmert_fwd 14-param kinematic: linear
    parameter propagation P(t) = P(epoch) + dP*(t - epoch) (reference
    src/transformations/helmert.cpp:102-160) then the small-angle
    rotation (the registry lowering never sets +exact). ``t`` is a SQL
    expression for the per-row coordinate epoch in decimal years."""
    assert C.t_epoch is not None and not C.exact
    p = pfx
    cols.append((f"{p}dt", f"({t}) - {C.t_epoch!r}"))
    cols.append((f"{p}rx", f"{C.rx!r} + {C.drx!r} * {p}dt"))
    cols.append((f"{p}ry", f"{C.ry!r} + {C.dry!r} * {p}dt"))
    cols.append((f"{p}rz", f"{C.rz!r} + {C.drz!r} * {p}dt"))
    cols.append((f"{p}sc", f"1.0 + ({C.s!r} + {C.ds!r} * {p}dt) * 1e-6"))
    rx0, ry0, rz0 = C.refp
    cols.append((f"{p}dX", f"{X} - {rx0!r}"))
    cols.append((f"{p}dY", f"{Y} - {ry0!r}"))
    cols.append((f"{p}dZ", f"{Z} - {rz0!r}"))
    # small-angle matrix rows; position_vector = transpose of
    # coordinate_frame (kernels.helmert._rotation)
    sg = -1.0 if C.position_vector else 1.0
    rows = (
        (f"1.0", f"{sg} * {p}rz", f"-({sg}) * {p}ry"),
        (f"-({sg}) * {p}rz", f"1.0", f"{sg} * {p}rx"),
        (f"{sg} * {p}ry", f"-({sg}) * {p}rx", f"1.0"),
    )
    for out, row, (t0, d0) in zip("XYZ", rows,
                                  ((C.x, C.dx), (C.y, C.dy), (C.z, C.dz))):
        cols.append((
            f"{p}{out}",
            f"{p}sc * (({row[0]}) * {p}dX + ({row[1]}) * {p}dY"
            f" + ({row[2]}) * {p}dZ) + ({t0!r} + {d0!r} * {p}dt)",
        ))
    return f"{p}X", f"{p}Y", f"{p}Z"
