"""The benchmark workloads.

Each workload is a closed loop: the driver issues one Spark job, waits for
it, then issues the next, on ``local[nproc]``. ``stages`` lists the plan
prefixes the traced run executes, each with the layer it adds and the
prefix whose work it also contains; ``end_to_end`` names the stages one
end-to-end job (``run``) consists of.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from perfbench import checks, inputs
from perfbench.spans import execute_with_counters

KERNEL_CHUNK = 8192  # proj_spark.functions.KERNEL_CHUNK, the UDFs' slice size

# crs_pipelines specs. The 4D chain: registry kinematic Helmert EPSG:8049
# (time-dependent, coordinate epoch per point) inside cart, the GDA-style
# 7-parameter Helmert, cart inverse, UTM 33 forward and inverse, then the
# ETRS89 LCC (EPSG:3034 parameters).
LCC_EUROPE = ("+proj=lcc +ellps=GRS80 +lat_1=35 +lat_2=65 +lat_0=52 "
              "+lon_0=10 +x_0=4000000 +y_0=2800000")
DISPATCH_PAIR = ("EPSG:4230", "EPSG:4326")
# every SAMPLE_EVERY-th point is compared value by value with direct calls
SAMPLE_EVERY = 8


def kinematic_4d_spec() -> str:
    from proj_spark.functions import GDA_DATUM_SPEC
    from proj_spark.sources.epsg_ops import operation_by_urn

    kin = operation_by_urn("8049")[0].split(" ", 1)[1]
    gda = GDA_DATUM_SPEC.split("+step +proj=helmert", 1)[1].split("+step")[0]
    return ("+proj=pipeline +ellps=GRS80 +step +proj=cart " + kin
            + " +step +proj=helmert" + gda + "+step +inv +proj=cart "
            "+step +proj=utm +zone=33 +step +inv +proj=utm +zone=33 "
            "+step " + LCC_EUROPE.replace("+ellps=GRS80 ", ""))


def chunked(fn, *arrays):
    """Direct kernel call over KERNEL_CHUNK slices, outputs concatenated."""
    n = len(arrays[0])
    parts = [fn(*[a[i:i + KERNEL_CHUNK] for a in arrays])
             for i in range(0, n, KERNEL_CHUNK)]
    return tuple(np.concatenate([p[k] for p in parts])
                 for k in range(len(parts[0])) if parts[0][k] is not None)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def identity_long_udf():
    @pandas_udf("long")
    def ident(a: pd.Series) -> pd.Series:
        return a

    return ident


def identity_crs_udf():
    @pandas_udf("lon double, lat double, h double, epoch double, "
                "x double, y double")
    def ident(lon: pd.Series, lat: pd.Series, h: pd.Series, t: pd.Series,
              x: pd.Series, y: pd.Series) -> pd.DataFrame:
        return pd.DataFrame({"lon": lon, "lat": lat, "h": h, "epoch": t,
                             "x": x, "y": y})

    return ident


def geo_points(imgs):
    """bench.py's flagship point stage: the fused kernel UDF, then JVM
    slippy tiles."""
    from proj_spark.functions import image_geo_full_udf, tile_x, tile_y

    return (
        imgs.withColumn("g", image_geo_full_udf(level=10)("phash"))
        .select(
            "image_id", "caption",
            F.col("g.lon").alias("lon"), F.col("g.lat").alias("lat"),
            F.col("g.utm_x").alias("utm_x"), F.col("g.utm_y").alias("utm_y"),
            F.col("g.lcc_x").alias("lcc_x"), F.col("g.lcc_y").alias("lcc_y"),
            F.col("g.cell").alias("cell"),
        )
        .withColumn("tile_x", tile_x(F.col("lon"), 12))
        .withColumn("tile_y", tile_y(F.col("lat"), 12))
    )


# output coordinates whose non-finite values count as invalid rows
GEO_COLS = ("lon", "lat", "utm_x", "utm_y", "lcc_x", "lcc_y")


class Workload:
    name = ""
    kind = "images"
    rows = 0                 # input rows, the unit of rows_per_s
    # (stage, layer name, stage whose work this prefix also contains)
    stages: tuple = ()
    end_to_end: tuple = ("sink",)  # stages one end-to-end job runs
    warmup_stage = ""              # plan prefix the warm-up action runs

    def __init__(self, seed: int, cache_root: str):
        self.seed = seed
        self.cache_root = cache_root
        self.spark = None
        self.path = None
        self._oracle = None

    # ---- setup
    def ensure_input(self) -> bool:
        self.path, generated = inputs.ensure(
            os.path.join(self.cache_root, "inputs"), self.kind, self.seed,
            self.rows)
        return generated

    def prepare(self, spark) -> None:
        """Driver-side objects every job of one session reuses."""
        self.spark = spark

    def oracle(self) -> dict:
        """Expected results for this seed, cached beside the input (the
        leading underscore keeps Spark and pyarrow from reading it)."""
        if self._oracle is None:
            f = os.path.join(self.path, f"_oracle_{self.name}.json")
            if os.path.exists(f):
                with open(f) as fh:
                    self._oracle = json.load(fh)
            else:
                self._oracle = self.build_oracle()
                with open(f, "w") as fh:
                    json.dump(self._oracle, fh)
        return self._oracle

    # ---- jobs
    def plan(self, stage: str, files: list[str] | None = None):
        """DataFrame of one plan prefix over the whole input, or over
        ``files`` when given."""
        raise NotImplementedError

    def warmup_files(self) -> list[str]:
        return inputs.warmup_files(self.path, self.spark.sparkContext.defaultParallelism)

    def warmup(self) -> None:
        """First action of a session: the end-to-end plan on a few files."""
        noop(self.plan(self.warmup_stage, self.warmup_files()))

    def run(self) -> bool:
        """One end-to-end job; returns whether its built-in check passed."""
        raise NotImplementedError

    def run_stage(self, stage: str):
        """Traced execution of one plan prefix with its SQL counters. The
        prefixes run to completion without a sink; stage 'sink' is the
        end-to-end job itself, so its self time is the sink's cost."""
        if stage == "sink":
            return {} if self.run() else False
        _, counters = execute_with_counters(self.plan(stage))
        return counters

    def check(self) -> dict:
        raise NotImplementedError


class _JoinWorkload(Workload):
    kind = "images"
    n_polys = 64

    def prepare(self, spark) -> None:
        from proj_spark.sources.synth import make_polygons

        super().prepare(spark)
        self.polys = make_polygons(self.n_polys, self.seed)

    def images(self, files=None):
        return self.spark.read.parquet(*(files or [self.path])) \
            .select("image_id", "caption", "phash")

    def plan(self, stage, files=None):
        imgs = self.images(files)
        if stage == "scan":
            return imgs
        if stage == "arrow":
            return imgs.select("image_id", "caption",
                               identity_long_udf()("phash").alias("phash"))
        pts = geo_points(imgs)
        if stage == "udf":
            return pts
        return self.join(pts)

    def build_oracle(self) -> dict:
        ids = inputs.image_ids(self.seed, self.rows)
        lon, lat = checks.lonlat_from_phash(inputs.splitmix64(ids).view(np.int64))
        pt, pl = checks.pip_pairs(lon, lat, self.polys)
        return checks.pair_digest(checks.pair_key(ids[pt], pl))

    def observe_pairs(self, df, obs):
        """``df`` with an observation of the pair digest, caption
        mismatches and non-finite coordinates over its rows; the metrics
        arrive when the job that consumes ``df`` finishes."""
        idx = F.create_map(*[F.lit(x) for k, p in enumerate(self.polys)
                             for x in (p.polygon_id, k)])
        num = F.substring("image_id", 4, 12).cast("long")
        key = num * 4096 + idx[F.col("polygon_id")]
        kd = key.cast("decimal(20,0)")
        want_caption = F.concat(
            F.lit("caption for image "), num.cast("string"), F.lit(": "),
            F.element_at(F.array(*map(F.lit, inputs.ADJ)),
                         (num % len(inputs.ADJ) + 1).cast("int")), F.lit(" "),
            F.element_at(F.array(*map(F.lit, inputs.NOUN)),
                         (num % len(inputs.NOUN) + 1).cast("int")))
        bad = None
        for c in GEO_COLS:
            cond = F.isnan(c) | (F.abs(F.col(c)) == float("inf"))
            bad = cond if bad is None else (bad | cond)
        return df.observe(
            obs,
            F.count(F.lit(1)).alias("pairs"),
            F.sum(kd).alias("sum"),
            F.sum(kd * kd).alias("sumsq"),
            F.bit_xor(key).alias("xor"),
            F.sum(F.when(F.col("caption") != want_caption, 1).otherwise(0))
            .alias("caption_mismatches"),
            F.sum(F.when(bad, 1).otherwise(0)).alias("invalid_rows"))

    def compare(self, got: dict) -> dict:
        want = self.oracle()
        got = {k: (0 if v is None else v) for k, v in got.items()}
        digest_ok = checks.digest_matches(got, want)
        return {"ok": bool(digest_ok and got["caption_mismatches"] == 0),
                "pairs": int(got["pairs"]), "oracle_pairs": want["pairs"],
                "digest_match": digest_ok,
                "caption_mismatches": int(got["caption_mismatches"]),
                "invalid_rows": int(got["invalid_rows"])}

    def candidate_pairs(self) -> int:
        """(point, polygon) pairs whose level-8 cell is in the polygon's
        cover: the candidates the exact test examines."""
        from proj_spark.functions import cell_parent
        from proj_spark.operators.spatial_join import polygon_cover

        cover = self.cover_df if getattr(self, "cover_df", None) is not None \
            else self.spark.createDataFrame(polygon_cover(self.polys, 8))
        pts = geo_points(self.images()).select(
            cell_parent(F.col("cell"), 8).alias("cell"))
        return int(pts.join(cover.select("cell"), "cell").count())


class FlagshipFusedJoin(_JoinWorkload):
    """bench.py's flagship(): 1M images -> fused kernel UDF -> tiles ->
    spatial_join_fused against 64 polygons -> noop sink."""

    name = "flagship_fused_join"
    rows = 1_000_000
    n_polys = 64
    stages = (("scan", "sources.scan", None),
              ("arrow", "functions.arrow_transport", "scan"),
              ("udf", "functions.kernel_udf", "arrow"),
              ("match", "spatial_join.match", "udf"),
              ("sink", "sink.noop", "match"))
    warmup_stage = "match"

    def join(self, pts):
        from proj_spark.operators.spatial_join import spatial_join_fused

        return spatial_join_fused(pts, self.polys, level=8, cell_col="cell",
                                  cell_level=10)

    def run(self) -> bool:
        """One end-to-end job whose output rows are digested on the way to
        the noop sink and compared with the oracle."""
        from pyspark.sql import Observation

        obs = Observation("flagship_pairs")
        noop(self.observe_pairs(self.plan("match"), obs))
        self.last_check = self.compare(obs.get)
        return self.last_check["ok"]

    def check(self) -> dict:
        """The comparison made by the latest end-to-end job."""
        if getattr(self, "last_check", None) is None:
            self.run()
        return self.last_check


class SmjJoinWrite(_JoinWorkload):
    """250k images -> fused kernel UDF -> spatial_join(strategy='smj')
    against 256 polygons -> lineage.write_with_manifests -> verify_manifests."""

    name = "smj_join_write"
    # Each job shuffles and sorts the whole cover and writes every bucket,
    # whatever its input size. With 1024 polygons (467k-row cover) over 1M
    # images a job took 7-12 s and its warm-up 12 s, and one run of this
    # workload alone took ~100 s; 256 polygons (123k-row cover) over 250k
    # images take ~4.5 s per job, steady from the first.
    n_polys = 256
    stages = (("scan", "sources.scan", None),
              ("arrow", "functions.arrow_transport", "scan"),
              ("udf", "functions.kernel_udf", "arrow"),
              ("join", "spatial_join.smj", "udf"),
              ("write", "lineage.write", "join"),
              ("verify", "lineage.verify", None))
    end_to_end = ("write", "verify")
    warmup_stage = "join"
    # 16 cell-prefix buckets (12 receive data: S2 faces use 6 of the 8
    # top-3-bit values); 64 buckets cost 1.7 s more per job in task and
    # file overhead on 116k output rows
    NUM_BUCKETS = 16
    rows = 250_000

    def prepare(self, spark) -> None:
        from proj_spark.operators.spatial_join import polygon_cover

        super().prepare(spark)
        self.cover_pdf = polygon_cover(self.polys, 8)
        self.cover_df = spark.createDataFrame(self.cover_pdf)
        self.out_root = os.path.join(self.cache_root, "out", self.name)
        self._n_out = 0
        self.last_out = None
        self.last_write = None

    def join(self, pts):
        from proj_spark.operators.spatial_join import spatial_join

        return spatial_join(pts, self.polys, strategy="smj", cell_col="cell",
                            cell_level=10, level=8, cover=self.cover_df)

    def _fresh_out(self) -> str:
        if self.last_out is not None:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self._n_out += 1
        self.last_out = os.path.join(self.out_root, f"job{self._n_out}")
        shutil.rmtree(self.last_out, ignore_errors=True)
        return self.last_out

    def write(self) -> dict:
        from proj_spark.lineage import write_with_manifests

        out = self._fresh_out()
        self.last_write = write_with_manifests(
            self.plan("join"), out, num_buckets=self.NUM_BUCKETS,
            cell_col="cell", resume=False)
        return self.last_write

    def verify(self) -> bool:
        from proj_spark.lineage import verify_manifests

        v = verify_manifests(self.spark, self.last_out)
        return bool(len(v) == self.last_write["written"] and v["ok"].all())

    def run(self) -> bool:
        self.write()
        return self.verify()

    def run_stage(self, stage: str) -> dict:
        if stage == "write":
            self.write()
            return self.stored()
        if stage == "verify":
            return {"verify_ok": self.verify()}
        return super().run_stage(stage)

    def stored(self) -> dict:
        data = os.path.join(self.last_out, "data")
        files = [os.path.join(d, f) for d, _, fs in os.walk(data)
                 for f in fs if f.endswith(".parquet")]
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        return {"files_written": len(files),
                "bytes_written": sum(os.path.getsize(f) for f in files),
                "rows_written": rows,
                "buckets_written": self.last_write["written"]}

    def check(self) -> dict:
        from pyspark.sql import Observation

        obs = Observation("written_pairs")
        self.observe_pairs(self.spark.read.parquet(
            os.path.join(self.last_out, "data")), obs) \
            .write.format("noop").mode("overwrite").save()
        res = self.compare(obs.get)
        st = self.stored()
        res["stored_bytes_per_row"] = st["bytes_written"] / st["rows_written"]
        return res


class CrsPipelines(Workload):
    """Numeric point table through three UDF factories, one crossing each:
    transform4d_udf (long 4D chain), dispatch_udf (ranked EPSG:4230 ->
    EPSG:4326 candidates), transform_udf(direction='inv') (LCC inverse)."""

    name = "crs_pipelines"
    kind = "points"
    # The 4D chain's kinematic Helmert groups points by distinct epoch
    # (kernels/helmert.py, one masked pass per unique value), and epochs
    # here are per point, so that step runs at ~0.02M pts/s/core against
    # ~1.3M for the others. 200k points keep one job near 4 s on 4 cores;
    # the per-point epochs stay, so the defect shows in every figure.
    rows = 200_000
    stages = (("scan", "sources.scan", None),
              ("arrow", "functions.arrow_transport", "scan"),
              ("kin4d", "functions.transform4d_udf", "arrow"),
              ("dispatch", "functions.dispatch_udf", "kin4d"),
              ("inv", "functions.transform_udf_inv", "dispatch"),
              ("sink", "sink.noop", "inv"))
    warmup_stage = "inv"
    OUT_COLS = ("k_x", "k_y", "k_z", "d_x", "d_y", "v_x", "v_y")

    def prepare(self, spark) -> None:
        from proj_spark.plans.pipeline import compile_pipeline
        from proj_spark.sources.epsg_ops import crs_to_crs_epsg_dispatch

        super().prepare(spark)
        self.kin_spec = kinematic_4d_spec()
        self.kin = compile_pipeline(self.kin_spec)
        self.disp = crs_to_crs_epsg_dispatch(*DISPATCH_PAIR)
        self.lcc = compile_pipeline(LCC_EUROPE)

    @staticmethod
    def linear_xy(lon, lat):
        """Projected-looking inputs for the inverse LCC: a linear map of
        lon/lat around the projection centre (JVM column math or numpy)."""
        return (4.0e6 + (lon - 10.0) * 70000.0,
                2.8e6 + (lat - 52.0) * 111000.0)

    def points(self, files=None):
        df = self.spark.read.parquet(*(files or [self.path])) \
            .select("pid", "lon", "lat", "h", "epoch")
        x, y = self.linear_xy(F.col("lon"), F.col("lat"))
        return df.withColumn("x", x).withColumn("y", y)

    def plan(self, stage, files=None):
        from proj_spark.functions import (dispatch_udf, transform4d_udf,
                                          transform_udf)

        pts = self.points(files)
        if stage == "scan":
            return pts
        if stage == "arrow":
            return pts.select("pid", identity_crs_udf()(
                "lon", "lat", "h", "epoch", "x", "y").alias("i"))
        cols = [F.col("pid"),
                transform4d_udf(self.kin_spec)("lon", "lat", "h", "epoch")
                .alias("k")]
        if stage in ("dispatch", "inv"):
            cols.append(dispatch_udf(self.disp)("lon", "lat").alias("d"))
        if stage == "inv":
            cols.append(transform_udf(LCC_EUROPE, direction="inv")("x", "y")
                        .alias("v"))
        out = pts.select(*cols)
        if stage != "inv":
            return out
        return out.select(
            "pid", F.col("k.x").alias("k_x"), F.col("k.y").alias("k_y"),
            F.col("k.z").alias("k_z"), F.col("d.x").alias("d_x"),
            F.col("d.y").alias("d_y"), F.col("v.x").alias("v_x"),
            F.col("v.y").alias("v_y"))

    def sample_inputs(self) -> pd.DataFrame:
        t = pq.read_table(self.path).to_pandas()
        return t[t["pid"] % SAMPLE_EVERY == 0].sort_values("pid") \
            .reset_index(drop=True)

    def build_oracle(self) -> dict:
        s = self.sample_inputs()
        lon, lat = s["lon"].to_numpy(), s["lat"].to_numpy()
        h, t = s["h"].to_numpy(), s["epoch"].to_numpy()
        kx, ky, kz = chunked(self.kin.fwd_deg, lon, lat, h, t)[:3]
        dx, dy = chunked(self.disp.fwd_deg, lon, lat)[:2]
        vx, vy = chunked(self.lcc.inv_deg, *self.linear_xy(lon, lat))[:2]
        return {"pid": s["pid"].tolist(),
                **{c: v.tolist() for c, v in zip(
                    self.OUT_COLS, (kx, ky, kz, dx, dy, vx, vy))}}

    def run(self) -> bool:
        """One end-to-end job; an observation counts its output rows and
        the rows with a non-finite coordinate."""
        from pyspark.sql import Observation

        bad = None
        for c in self.OUT_COLS:
            cond = F.isnan(c) | (F.abs(F.col(c)) == float("inf"))
            bad = cond if bad is None else (bad | cond)
        obs = Observation("crs_rows")
        noop(self.plan("inv").observe(
            obs, F.count(F.lit(1)).alias("n"),
            F.sum(F.when(bad, 1).otherwise(0)).alias("bad")))
        self.last_rows = obs.get
        return self.last_rows["n"] == self.rows

    def check(self) -> dict:
        """Every SAMPLE_EVERY-th output row against direct calls (the pid
        filter is pushed under the UDFs), round trips of Spark's output,
        and the row counts the latest end-to-end job observed."""
        if getattr(self, "last_rows", None) is None:
            self.run()
        want = self.oracle()
        got = self.plan("inv").filter(F.col("pid") % SAMPLE_EVERY == 0) \
            .toPandas().sort_values("pid").reset_index(drop=True)
        seen = self.last_rows
        res = {"sample_rows": len(got), "output_rows": int(seen["n"]),
               "invalid_rows": int(seen["bad"] or 0),
               "pids_match": got["pid"].tolist() == want["pid"]}
        tol = {"k_x": 1e-6, "k_y": 1e-6, "k_z": 1e-6, "d_x": 1e-11,
               "d_y": 1e-11, "v_x": 1e-11, "v_y": 1e-11}
        for c in self.OUT_COLS:
            res[f"{c}_match"] = res["pids_match"] and checks.close(
                got[c].to_numpy(), np.array(want[c]), tol[c])
        # fwd -> inv round trips of Spark's own output
        s = self.sample_inputs()
        lon, lat = s["lon"].to_numpy(), s["lat"].to_numpy()
        if res["pids_match"]:
            b_lon, b_lat, b_h = chunked(
                self.kin.inv_deg, got["k_x"].to_numpy(), got["k_y"].to_numpy(),
                got["k_z"].to_numpy(), s["epoch"].to_numpy())[:3]
            res["kin4d_roundtrip_deg"] = float(max(
                np.max(np.abs(b_lon - lon)), np.max(np.abs(b_lat - lat))))
            res["kin4d_roundtrip_h_m"] = float(np.max(np.abs(b_h - s["h"].to_numpy())))
            fx, fy = chunked(self.lcc.fwd_deg, got["v_x"].to_numpy(),
                             got["v_y"].to_numpy())[:2]
            x, y = self.linear_xy(lon, lat)
            res["lcc_roundtrip_m"] = float(max(np.max(np.abs(fx - x)),
                                               np.max(np.abs(fy - y))))
            ix, iy = chunked(self.disp.inv_deg, got["d_x"].to_numpy(),
                             got["d_y"].to_numpy())[:2]
            err = np.hypot(ix - lon, iy - lat)
            res["dispatch_roundtrip_max_deg"] = float(np.max(err))
            res["dispatch_roundtrip_p99_deg"] = float(np.quantile(err, 0.99))
        res["ok"] = bool(
            res["pids_match"] and res["output_rows"] == self.rows
            and all(res[f"{c}_match"] for c in self.OUT_COLS)
            # millimetre-level closure of the 7-step chain and its inverse
            and res["kin4d_roundtrip_deg"] < 1e-9
            and res["kin4d_roundtrip_h_m"] < 1e-3
            and res["lcc_roundtrip_m"] < 1e-6
            # per-point candidate choice may differ between directions at
            # area-of-use edges (ED50 variants agree to metres): bound the
            # tail loosely, the bulk tightly
            and res["dispatch_roundtrip_max_deg"] < 1e-2
            and res["dispatch_roundtrip_p99_deg"] < 1e-7)
        return res


WORKLOADS = {w.name: w for w in (FlagshipFusedJoin, CrsPipelines, SmjJoinWrite)}
