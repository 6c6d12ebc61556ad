"""The coordinate UDF factories (transform_udf, dispatch_udf,
transform3d_udf, transform4d_udf) share one n-column pandas UDF body; each
must give, bit for bit, what its pipeline gives on the driver."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from proj_spark.functions import (dispatch_udf, transform3d_udf,
                                  transform4d_udf, transform_udf)
from proj_spark.plans.pipeline import compile_pipeline
from proj_spark.sources.epsg_ops import crs_to_crs_epsg_dispatch

KINEMATIC = ("+proj=pipeline +ellps=GRS80 +step +proj=cart "
             "+step +proj=helmert +x=0.1 +y=-0.2 +z=0.3 +rx=0.01 +ry=-0.02 "
             "+rz=0.03 +s=0.01 +dx=0.001 +dy=0.002 +dz=-0.003 +drx=0.0001 "
             "+dry=-0.0002 +drz=0.0003 +ds=0.0001 +t_epoch=2010 "
             "+convention=position_vector +step +inv +proj=cart")
DATUM_3D = ("+proj=pipeline +ellps=GRS80 +step +proj=cart "
            "+step +proj=helmert +x=0.06155 +y=-0.01087 +z=-0.04019 "
            "+rx=-0.0394924 +ry=-0.0327221 +rz=-0.0328979 +s=-0.009994 "
            "+convention=coordinate_frame +step +proj=cart +inv")
UTM = "+proj=utm +zone=33 +ellps=GRS80"


def test_coordinate_udfs_match_pipelines(spark):
    df = spark.range(300).select(
        (10.0 + (F.col("id") % 40) / 10.0).alias("lon"),
        (50.0 + (F.col("id") % 30) / 10.0).alias("lat"),
        (100.0 + F.col("id")).alias("h"),
        (2000.0 + F.col("id") * 0.1).alias("epoch"))
    disp = crs_to_crs_epsg_dispatch("EPSG:4230", "EPSG:4326")
    utm = compile_pipeline(UTM)
    e, n, _, _ = utm.fwd_deg(np.array([15.0]), np.array([52.0]))
    out = df.select(
        "lon", "lat", "h", "epoch",
        transform_udf(UTM)("lon", "lat").alias("u"),
        transform_udf(UTM, direction="inv")(
            F.lit(e[0]) + F.col("h"), F.lit(n[0]) - F.col("h")).alias("v"),
        dispatch_udf(disp)("lon", "lat").alias("d"),
        transform3d_udf(DATUM_3D)("lon", "lat", "h").alias("g"),
        transform4d_udf(KINEMATIC)("lon", "lat", "h", "epoch").alias("k"),
    ).orderBy("h").toPandas()
    lon, lat = out["lon"].to_numpy(), out["lat"].to_numpy()
    h, epoch = out["h"].to_numpy(), out["epoch"].to_numpy()

    def same(col, got_keys, want):
        for key, w in zip(got_keys, want):
            np.testing.assert_array_equal(
                np.array([r[key] for r in out[col]]), w)

    same("u", "xy", utm.fwd_deg(lon, lat)[:2])
    same("v", "xy", utm.inv_deg(e[0] + h, n[0] - h)[:2])
    same("d", "xy", disp.fwd_deg(lon, lat)[:2])
    same("g", "xyz", compile_pipeline(DATUM_3D).fwd_deg(lon, lat, h)[:3])
    same("k", "xyz",
         compile_pipeline(KINEMATIC).fwd_deg(lon, lat, h, epoch)[:3])
