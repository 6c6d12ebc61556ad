"""Single-process kernel and plan microbench over KERNEL_CHUNK slices.

* kernels: the flagship's per-point chain, step by step, exactly as
  ``image_geo_full_udf`` runs it (coords from phash, GDA datum Helmert,
  UTM auto-zone, LCC, S2 level 10) over ``N_KERNEL`` seeded points.
* plans: ``fwd_deg``/``inv_deg`` of the three crs_pipelines specs, called
  directly on ``N_PLAN`` seeded points, plus compile time and step and
  candidate counts.
Each figure is the median of ``REPEATS`` passes.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from perfbench import inputs
from perfbench.workloads import (DISPATCH_PAIR, KERNEL_CHUNK, LCC_EUROPE,
                                 CrsPipelines, kinematic_4d_spec)

N_KERNEL = 1_000_000
N_PLAN = 8_192
REPEATS = 3
# ROADMAP re-anchor figure for the flagship chain: 0.78 s per 1M points
# on one core (1.29M pts/s/core)
REANCHOR_CHAIN_S = 0.78


def kernel_chain(seed: int, tracer) -> dict:
    from proj_spark import cells
    from proj_spark.functions import GDA_DATUM_SPEC, LCC_CONUS_SPEC
    from proj_spark.plans.pipeline import compile_pipeline
    from proj_spark.sources.synth import lonlat_from_phash

    datum = compile_pipeline(GDA_DATUM_SPEC)
    utm = compile_pipeline("+proj=utm +ellps=WGS84")
    lcc = compile_pipeline(LCC_CONUS_SPEC)
    ids = inputs.image_ids(seed, N_KERNEL)
    phash = inputs.splitmix64(ids).view(np.int64)
    steps = ("lonlat", "helmert", "utm", "lcc", "s2")
    runs = {s: [] for s in steps}
    for _ in range(REPEATS):
        acc = dict.fromkeys(steps, 0.0)
        with tracer.span("kernels.chain", points=N_KERNEL):
            for i in range(0, N_KERNEL, KERNEL_CHUNK):
                ph = phash[i:i + KERNEL_CHUNK]
                t0 = time.perf_counter()
                lon, lat = lonlat_from_phash(ph)
                t1 = time.perf_counter()
                lon2, lat2, _, _ = datum.fwd_deg(lon, lat, np.zeros_like(lon))
                t2 = time.perf_counter()
                utm.fwd_deg(lon2, lat2)
                t3 = time.perf_counter()
                lcc.fwd_deg(lon2, lat2)
                t4 = time.perf_counter()
                cells.s2_cell_id(lon2, lat2, 10)
                t5 = time.perf_counter()
                for s, dt in zip(steps, (t1 - t0, t2 - t1, t3 - t2, t4 - t3,
                                         t5 - t4)):
                    acc[s] += dt
        for s in steps:
            runs[s].append(acc[s])
    out = {f"kernels.{s}_s": statistics.median(runs[s]) for s in steps}
    total = sum(out.values())
    out["kernels.chain_pts_per_s"] = N_KERNEL / total
    out["kernels.chain_s_per_1M"] = total * 1e6 / N_KERNEL
    out["kernels.chain_vs_reanchor"] = out["kernels.chain_s_per_1M"] / REANCHOR_CHAIN_S
    return out


def _chunked_call(fn, *arrays):
    n = len(arrays[0])
    for i in range(0, n, KERNEL_CHUNK):
        fn(*[a[i:i + KERNEL_CHUNK] for a in arrays])


def plan_specs(seed: int, tracer) -> dict:
    from proj_spark.plans.pipeline import compile_pipeline
    from proj_spark.sources.epsg_ops import crs_to_crs_epsg_dispatch

    compile_runs = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        kin = compile_pipeline(kinematic_4d_spec())
        disp = crs_to_crs_epsg_dispatch(*DISPATCH_PAIR)
        lcc = compile_pipeline(LCC_EUROPE)
        compile_runs.append(time.perf_counter() - t0)
    t = inputs.point_table(seed, N_PLAN).to_pandas()
    lon, lat = t["lon"].to_numpy(), t["lat"].to_numpy()
    h, ep = t["h"].to_numpy(), t["epoch"].to_numpy()
    x, y = CrsPipelines.linear_xy(lon, lat)
    calls = {"kin4d": (kin.fwd_deg, (lon, lat, h, ep)),
             "dispatch": (disp.fwd_deg, (lon, lat)),
             "lcc_inv": (lcc.inv_deg, (x, y))}
    out = {"plans.compile_s": statistics.median(compile_runs)}
    for name, (fn, args) in calls.items():
        runs = []
        for _ in range(REPEATS):
            with tracer.span(f"plans.fwd.{name}", points=N_PLAN):
                t0 = time.perf_counter()
                _chunked_call(fn, *args)
                runs.append(time.perf_counter() - t0)
        out[f"plans.fwd_s.{name}"] = statistics.median(runs)
    out["plans.steps.kin4d"] = len(kin.steps)
    out["plans.steps.lcc_inv"] = len(lcc.steps)
    out["plans.dispatch_candidates"] = len(disp.candidates)
    return out
