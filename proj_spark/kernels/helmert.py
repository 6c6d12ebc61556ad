"""Helmert transforms: 3/4/7-parameter static + 14-parameter kinematic.

Reference: /root/reference/src/transformations/helmert.cpp —
parameter propagation P(t) = P(epoch) + dP*(t-epoch) (:102-160), rotation
matrix in coordinate_frame convention with optional exact trig or small-angle
form (:161-322, position_vector = transpose :301-310), 3D kernel
x' = scale * R * (x - refp) + T (:362-400), reverse via transpose (:402-437),
4D = per-row parameter propagation then the 3D kernel (:438-...).

Fixture anchors: GDA94->GDA2020 7-param at 75 um and kinematic
ITRF2014@2018->GDA2020 at 40 um (test/gie/GDA.gie:27-75).

Spark-side realization: a static transform's rotation matrix entries are
scalars; the kernel is a broadcasted 3x3 matmul over numpy columns. A
kinematic transform evaluates the propagated parameters and the 9 entries
on the epoch column itself, one array operation each, so its cost does not
depend on how many distinct epochs a batch carries.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

_ARCSEC_TO_RAD = math.pi / (180.0 * 3600.0)


@dataclass(frozen=True)
class HelmertConsts:
    # translations [m], rotations [rad], scale [ppm] at the reference epoch
    x: float = 0.0
    y: float = 0.0
    z: float = 0.0
    rx: float = 0.0
    ry: float = 0.0
    rz: float = 0.0
    s: float = 0.0
    # rates per year (same units)
    dx: float = 0.0
    dy: float = 0.0
    dz: float = 0.0
    drx: float = 0.0
    dry: float = 0.0
    drz: float = 0.0
    ds: float = 0.0
    t_epoch: float | None = None
    exact: bool = False
    position_vector: bool = False  # False => coordinate_frame convention
    refp: tuple[float, float, float] = (0.0, 0.0, 0.0)  # Molodensky-Badekas
    # 2D 4-parameter mode (reference helmert.cpp:324-359): theta rotation
    # [rad] in the projected plane with DIRECT scale (not ppm), default 1.
    theta: float | None = None


def from_params(params: dict) -> HelmertConsts:
    """Build from proj-string params (rotations in arc-seconds, s in ppm)."""
    conv = params.get("convention", "")
    g = lambda k: float(params.get(k, 0.0))
    fourparam = "theta" in params
    # Molodensky-Badekas: the reference folds the evaluation point into the
    # translation terms (helmert.cpp:750-753), so fwd is
    # X' = (T + P) + s*R*(X - P)
    return HelmertConsts(
        x=g("x") + g("px"), y=g("y") + g("py"), z=g("z") + g("pz"),
        rx=g("rx") * _ARCSEC_TO_RAD,
        ry=g("ry") * _ARCSEC_TO_RAD,
        rz=g("rz") * _ARCSEC_TO_RAD,
        s=float(params.get("s", 1.0 if fourparam else 0.0)),
        theta=g("theta") * _ARCSEC_TO_RAD if fourparam else None,
        dx=g("dx"), dy=g("dy"), dz=g("dz"),
        drx=g("drx") * _ARCSEC_TO_RAD,
        dry=g("dry") * _ARCSEC_TO_RAD,
        drz=g("drz") * _ARCSEC_TO_RAD,
        ds=g("ds"),
        t_epoch=float(params["t_epoch"]) if "t_epoch" in params else None,
        exact="exact" in params,
        position_vector=(conv == "position_vector"),
        # Molodensky-Badekas evaluation point (reference helmert.cpp:727-733;
        # +proj=molobadekas routes here with px/py/pz mandatory)
        refp=(g("px"), g("py"), g("pz")),
    )


def _rotation(rx, ry, rz, exact: bool, position_vector: bool):
    """Rotation matrix rows (coordinate_frame by default; PV = transpose).
    The angles, and so the entries, are scalars or per-point arrays."""
    if exact:
        cf, sf = np.cos(rx), np.sin(rx)
        ct, st = np.cos(ry), np.sin(ry)
        cp, sp = np.cos(rz), np.sin(rz)
        R = ((ct * cp, cf * sp + sf * st * cp, sf * sp - cf * st * cp),
             (-ct * sp, cf * cp - sf * st * sp, sf * cp + cf * st * sp),
             (st, -sf * ct, cf * ct))
    else:  # small-angle linearization (the historically published form)
        R = ((1.0, rz, -ry),
             (-rz, 1.0, rx),
             (ry, -rx, 1.0))
    if position_vector:
        R = tuple(zip(*R))
    return R


def _params_at(C: HelmertConsts, t):
    """Translation, rotation, scale factor and rotation matrix at epoch
    ``t``: scalars for a static transform (no ``t`` or no ``t_epoch``),
    per-point arrays for a kinematic one (non-finite epochs read as
    ``t_epoch``)."""
    T, r, s = (C.x, C.y, C.z), (C.rx, C.ry, C.rz), C.s
    if t is not None and C.t_epoch is not None:
        t = np.asarray(t, dtype=np.float64)
        dt = np.where(np.isfinite(t), t, C.t_epoch) - C.t_epoch
        T = (C.x + C.dx * dt, C.y + C.dy * dt, C.z + C.dz * dt)
        r = (C.rx + C.drx * dt, C.ry + C.dry * dt, C.rz + C.drz * dt)
        s = C.s + C.ds * dt
    return T, 1.0 + s * 1e-6, _rotation(*r, C.exact, C.position_vector)


def helmert_fwd(X, Y, Z, C: HelmertConsts, t=None):
    """Forward 3D/4D Helmert. ``t`` is an optional epoch array (decimal years)."""
    X = np.asarray(X, dtype=np.float64)
    Y = np.asarray(Y, dtype=np.float64)
    Z = np.asarray(Z, dtype=np.float64)
    if C.theta is not None:  # 2D 4-parameter planar shift
        cr = math.cos(C.theta) * C.s
        sr = math.sin(C.theta) * C.s
        return cr * X + sr * Y + C.x, -sr * X + cr * Y + C.y, Z
    (tx, ty, tz), scale, R = _params_at(C, t)
    rx0, ry0, rz0 = C.refp
    dX, dY, dZ = X - rx0, Y - ry0, Z - rz0
    return (scale * (R[0][0] * dX + R[0][1] * dY + R[0][2] * dZ) + tx,
            scale * (R[1][0] * dX + R[1][1] * dY + R[1][2] * dZ) + ty,
            scale * (R[2][0] * dX + R[2][1] * dY + R[2][2] * dZ) + tz)


def helmert_inv(X, Y, Z, C: HelmertConsts, t=None):
    """Inverse: unscale/detranslate then multiply by the transpose."""
    X = np.asarray(X, dtype=np.float64)
    Y = np.asarray(Y, dtype=np.float64)
    Z = np.asarray(Z, dtype=np.float64)
    if C.theta is not None:
        cr = math.cos(C.theta) / C.s
        sr = math.sin(C.theta) / C.s
        dX = X - C.x
        dY = Y - C.y
        return dX * cr - dY * sr, dX * sr + dY * cr, Z
    (tx, ty, tz), scale, R = _params_at(C, t)
    rx0, ry0, rz0 = C.refp
    dX, dY, dZ = (X - tx) / scale, (Y - ty) / scale, (Z - tz) / scale
    return (R[0][0] * dX + R[1][0] * dY + R[2][0] * dZ + rx0,
            R[0][1] * dX + R[1][1] * dY + R[2][1] * dZ + ry0,
            R[0][2] * dX + R[1][2] * dY + R[2][2] * dZ + rz0)
