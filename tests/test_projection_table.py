"""The projection table (plans/pipeline._PROJECTIONS) and its generic
constructor: every op compiles and projects, +over reaches every op, and
the registry still covers every operation COVERAGE.md lists as compiling.

These run offline: COVERAGE.md is the committed record of the reference
registry (tools/gen_coverage.py needs the reference's pj_list.h)."""

from __future__ import annotations

import math
import pathlib
import re

import numpy as np
import pytest

from proj_spark.kernels import helmert as H
from proj_spark.plans.pipeline import (_BUILDERS, _PROJECTIONS,
                                       ProjectionStep, compile_pipeline)

ROOT = pathlib.Path(__file__).resolve().parents[1]

# the parameters an op cannot do without (taken from its gie fixtures)
MINIMAL = {
    "aea": "+lat_1=0 +lat_2=2",
    "bonne": "+lat_1=0.5",
    "ccon": "+lat_1=52",
    "chamb": "+R=6400000 +lat_1=0.5 +lat_2=2",
    "eqdc": "+lat_1=0.5 +lat_2=2",
    "geos": "+h=35785831",
    "gn_sinu": "+m=1 +n=2",
    "imw_p": "+lat_1=0.5 +lat_2=2",
    "labrd": "+lon_0=0.5 +lat_0=2",
    "lcc": "+lat_1=0.5 +lat_2=2",
    "lcca": "+lat_0=1",
    "lsat": "+lsat=1 +path=2",
    "misrsom": "+path=1",
    "nsper": "+h=1000000",
    "oea": "+n=1 +m=2 +theta=3",
    "omerc": "+lat_1=0.5 +lat_2=2",
    "tpeqd": "+lat_1=0.5 +lat_2=2",
    "tpers": "+h=1000000 +azi=20",
    "urm5": "+n=0.5",
    "urmfps": "+n=0.5",
    "utm": "+zone=30",
    **{op: "+lat_1=0.5 +lat_2=2" for op in
       ("euler", "murd1", "murd2", "murd3", "pconic", "tissot", "vitk1")},
}


def _spec(op: str, extra: str = "") -> str:
    return f"+proj={op} {MINIMAL.get(op, '')} {extra}"


def _coverage_ops() -> set[str]:
    text = (ROOT / "COVERAGE.md").read_text()
    return set(re.findall(r"\| `(\w+)` \| ✅ \|", text))


def test_registry_matches_coverage():
    """Every op COVERAGE.md marks as compiling is in the registry, and
    nothing else is (183 builders + the pipeline itself)."""
    ops = _coverage_ops()
    assert len(ops) == 184
    assert ops == set(_BUILDERS) | {"pipeline"}
    assert set(_PROJECTIONS) <= set(_BUILDERS)


@pytest.mark.parametrize("op", sorted(_PROJECTIONS))
def test_table_op_compiles_and_projects(op):
    step = compile_pipeline(_spec(op)).steps[0]
    assert isinstance(step, ProjectionStep)
    lon, lat = np.meshgrid(np.linspace(-170, 170, 7), np.linspace(-80, 80, 7))
    with np.errstate(all="ignore"):
        x, y, _, _ = step.fwd(np.radians(lon.ravel()), np.radians(lat.ravel()),
                              None, None)
    assert (np.isfinite(x) & np.isfinite(y)).any()


@pytest.mark.parametrize("op", sorted(_PROJECTIONS))
def test_over_reaches_every_table_op(op):
    assert compile_pipeline(_spec(op, "+over")).steps[0].over is True
    assert compile_pipeline(_spec(op)).steps[0].over is False


@pytest.mark.parametrize("over", [True, False])
def test_merc_over_keeps_longitude(over):
    """PROJ's fwd_prepare skips the longitude wrap under +over: x is
    rad(200 deg) with it and rad(-160 deg) without."""
    pipe = compile_pipeline("+proj=merc +R=1" + (" +over" if over else ""))
    x, y, _, _ = pipe.fwd_deg(np.array([200.0]), np.array([0.0]))
    assert x[0] == pytest.approx(math.radians(200.0 if over else -160.0),
                                 abs=1e-12)
    assert y[0] == pytest.approx(0.0, abs=1e-12)


def test_merc_over_ellipsoidal():
    x, _, _, _ = compile_pipeline("+proj=merc +ellps=WGS84 +over").fwd_deg(
        np.array([200.0]), np.array([10.0]))
    assert x[0] == pytest.approx(6378137.0 * math.radians(200.0), abs=1e-6)


@pytest.mark.parametrize("over", [True, False])
def test_tmerc_over_at_200_degrees(over):
    """Spherical tmerc is periodic in longitude, so +over keeps the value
    PROJ gets at (200 deg, 0): x = atanh(sin 200 deg), y = pi (the far
    branch beyond 90 deg from the central meridian)."""
    pipe = compile_pipeline("+proj=tmerc +R=1" + (" +over" if over else ""))
    x, y, _, _ = pipe.fwd_deg(np.array([200.0]), np.array([0.0]))
    assert x[0] == pytest.approx(math.atanh(math.sin(math.radians(200.0))),
                                 abs=1e-12)
    assert y[0] == pytest.approx(math.pi, abs=1e-12)


def test_no_inverse_is_one_uniform_error():
    for op in ("larr", "airy", "rpoly", "bertin1953", "guyou"):
        step = compile_pipeline(_spec(op)).steps[0]
        with pytest.raises(NotImplementedError,
                           match=f"^{op}: no inverse \\(reference has none\\)$"):
            step.inv(np.array([0.1]), np.array([0.1]), None, None)


@pytest.mark.parametrize("exact", [False, True])
@pytest.mark.parametrize("convention", ["position_vector", "coordinate_frame"])
def test_kinematic_helmert_per_point_epochs(exact, convention):
    """10k points, 10k distinct epochs: each point matches a static
    transform built with that point's propagated parameters."""
    params = {"x": "0.1", "y": "-0.2", "z": "0.3", "rx": "0.01",
              "ry": "-0.02", "rz": "0.03", "s": "0.01", "dx": "0.001",
              "dy": "0.002", "dz": "-0.003", "drx": "0.0001",
              "dry": "-0.0002", "drz": "0.0003", "ds": "0.0001",
              "t_epoch": "2010.0", "convention": convention}
    if exact:
        params["exact"] = True
    C = H.from_params(params)
    rng = np.random.default_rng(7)
    n = 10_000
    X, Y, Z = (rng.uniform(-6.4e6, 6.4e6, n) for _ in range(3))
    t = 2000.0 + np.arange(n) * 0.003
    assert len(np.unique(t)) == n
    fX, fY, fZ = H.helmert_fwd(X, Y, Z, C, t=t)
    iX, iY, iZ = H.helmert_inv(X, Y, Z, C, t=t)
    for i in rng.choice(n, 50, replace=False):
        dt = t[i] - C.t_epoch
        Ci = H.HelmertConsts(
            x=C.x + C.dx * dt, y=C.y + C.dy * dt, z=C.z + C.dz * dt,
            rx=C.rx + C.drx * dt, ry=C.ry + C.dry * dt, rz=C.rz + C.drz * dt,
            s=C.s + C.ds * dt, exact=C.exact,
            position_vector=C.position_vector, refp=C.refp)
        one = (X[i:i + 1], Y[i:i + 1], Z[i:i + 1])
        for got, want in ((H.helmert_fwd(*one, Ci), (fX, fY, fZ)),
                          (H.helmert_inv(*one, Ci), (iX, iY, iZ))):
            for g, w in zip(got, want):
                assert abs(g[0] - w[i]) <= 1e-9


def test_static_helmert_ignores_epochs():
    """Without t_epoch the parameters stay scalars: any epoch column gives
    the no-epoch result."""
    C = H.from_params({"x": "0.06155", "rx": "-0.0394924", "s": "-0.009994"})
    X, Y, Z = np.array([4e6, -2e6]), np.array([1e6, 5e6]), np.array([3e6, 0.0])
    want = H.helmert_fwd(X, Y, Z, C)
    got = H.helmert_fwd(X, Y, Z, C, t=np.array([2000.0, 2030.0]))
    for g, w in zip(got, want):
        np.testing.assert_array_equal(g, w)
