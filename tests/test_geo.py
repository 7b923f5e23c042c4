"""Validation for the P9 transverse-Mercator implementation (no pyproj
in this environment, so correctness is established by mathematical
properties of the projection itself)."""

from __future__ import annotations

import numpy as np

from ast_data_pipeline_spark.functions.geo import (
    lonlat_to_utm_np,
    utm_to_lonlat_np,
)


def test_central_meridian_identity():
    # easting exactly 500000 must map to the zone's central meridian
    e = np.array([500000.0, 500000.0])
    n = np.array([3900000.0, 4000000.0])
    z = np.array([16, 17])
    lon, lat = utm_to_lonlat_np(e, n, z)
    assert np.allclose(lon, [16 * 6 - 183, 17 * 6 - 183], atol=1e-12)
    assert (lat > 30).all() and (lat < 40).all()


def test_roundtrip_inverse_forward():
    rng = np.random.RandomState(7)
    e = 400000.0 + rng.rand(500) * 200000.0  # within-zone eastings
    n = 3300000.0 + rng.rand(500) * 1500000.0
    z = np.where(rng.rand(500) < 0.5, 16, 17).astype(np.int64)
    lon, lat = utm_to_lonlat_np(e, n, z)
    e2, n2 = lonlat_to_utm_np(lon, lat, z)
    # round-trip closure well below the 0.6 m pixel
    assert np.abs(e2 - e).max() < 1e-3
    assert np.abs(n2 - n).max() < 1e-3


def test_native_cols_match_numpy(spark):
    # the codegen'd staged column form must agree with the numpy
    # reference far below pixel scale (both are double; JVM trig is 1-ulp)
    rng = np.random.RandomState(11)
    e = 400000.0 + rng.rand(300) * 200000.0
    n = 3300000.0 + rng.rand(300) * 1500000.0
    z = np.where(rng.rand(300) < 0.5, 16, 17).astype(np.int64)
    import pandas as pd
    from pyspark.sql import functions as F

    from ast_data_pipeline_spark.functions.geo import with_utm_lonlat

    lon, lat = utm_to_lonlat_np(e, n, z)
    df = spark.createDataFrame(pd.DataFrame({"e": e, "n": n, "z": z}))
    staged = with_utm_lonlat(df, "lon", "lat", F.col("e"), F.col("n"), F.col("z"))
    got = staged.select("lon", "lat").toPandas()
    assert list(staged.columns) == ["e", "n", "z", "lon", "lat"]  # temps dropped
    assert np.abs(got["lon"].to_numpy() - lon).max() < 1e-12
    assert np.abs(got["lat"].to_numpy() - lat).max() < 1e-12


def test_known_point():
    # zone 16, a point ~1 degree east of the central meridian at ~35N:
    # forward-project a known lon/lat and invert back
    lon0, lat0 = np.array([-86.0]), np.array([35.0])
    z = np.array([16])
    e, n = lonlat_to_utm_np(lon0, lat0, z)
    # textbook sanity: east of CM -> easting > 500000; northern lat ~ 3.87e6
    assert e[0] > 500000.0
    assert 3.8e6 < n[0] < 3.95e6
    lon1, lat1 = utm_to_lonlat_np(e, n, z)
    assert abs(lon1[0] - lon0[0]) < 1e-8
    assert abs(lat1[0] - lat0[0]) < 1e-8


def test_polynomial_trig_vs_libm(spark):
    # The deterministic-trig accuracy pin, r13 form (VERDICT r12 #1):
    # psin/pcos are cut to the output boundary's error budget (sin to
    # x^15/15!, cos to x^14/14!; budget derivation in the geo.py
    # module note), so the pin is the TRUNCATION BOUND itself. Both
    # series alternate with strictly decreasing terms on |x| <= 1.47,
    # so |poly - libm| <= first omitted term + a few ulp of rounding:
    #     sin: |x|^17/17!,  cos: |x|^16/16!   (+5e-16 floor)
    # asserted POINTWISE over the whole domain — a coefficient or
    # Horner-order regression breaks this immediately, and a future
    # term-count change must re-derive the bound here.
    import math

    import pandas as pd
    from pyspark.sql import functions as F

    from ast_data_pipeline_spark.functions.geo import pcos_col, psin_col

    x = np.linspace(-1.47, 1.47, 4001)
    df = spark.createDataFrame(pd.DataFrame({"x": x}))
    got = df.select(
        psin_col(F.col("x")).alias("s"), pcos_col(F.col("x")).alias("c")
    ).toPandas()
    sin_bound = np.abs(x) ** 17 / math.factorial(17) + 5e-16
    cos_bound = np.abs(x) ** 16 / math.factorial(16) + 5e-16
    assert (np.abs(got["s"].to_numpy() - np.sin(x)) <= sin_bound).all()
    assert (np.abs(got["c"].to_numpy() - np.cos(x)) <= cos_bound).all()
    # At the data's actual latitudes (CONUS, |x| <= 0.86 rad) the
    # truncation terms are 2.2e-16 (sin) / 4.3e-15 (cos) — ~0.03 um of
    # latitude, i.e. libm parity to within 1e-14 abs.
    m = np.abs(x) <= 0.86
    assert np.abs(got["s"].to_numpy()[m] - np.sin(x[m])).max() < 1e-14
    assert np.abs(got["c"].to_numpy()[m] - np.cos(x[m])).max() < 1e-14
    # Worst-case geodetic claim: the domain-edge truncation stays >=6x
    # under the 1 mm roundtrip budget (1 mm ~ 1.57e-10 rad of lat);
    # measured margins: sin 80x, cos 6.9x.
    assert 1.47**17 / math.factorial(17) < 1.57e-10 / 6
    assert 1.47**16 / math.factorial(16) < 1.57e-10 / 6


def test_polynomial_trig_sql_mirror_bit_exact(spark):
    # Token-for-token contract: the DuckDB text form of psin/pcos must
    # produce IDENTICAL BITS to the Spark column form on every input —
    # this is the property that makes the flagship hash-gateable at
    # any scale (the %.7f grid-straddle class died with libm).
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from ast_data_pipeline_spark.functions.geo import (
        pcos_col,
        pcos_sql,
        psin_col,
        psin_sql,
    )

    x = np.linspace(-1.47, 1.47, 4001)
    pdf = pd.DataFrame({"x": x})
    df = spark.createDataFrame(pdf)
    got = df.select(
        psin_col(F.col("x")).alias("s"), pcos_col(F.col("x")).alias("c")
    ).toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    exp = con.execute(
        f"SELECT {psin_sql('x')} AS s, {pcos_sql('x')} AS c FROM t"
    ).df()
    assert (got["s"].to_numpy() == exp["s"].to_numpy()).all()
    assert (got["c"].to_numpy() == exp["c"].to_numpy()).all()


def test_q7_snap_format_engine_identical(spark):
    # The r12 formatter-boundary pin. Java %.7f rounds SHORTEST-REPR
    # digits half-up; DuckDB's fmt rounds the EXACT binary expansion
    # half-even — so identical doubles can format differently when the
    # shortest repr lands exactly on the half grid (2-in-29M flagship
    # values at sf1). functions/exact.q7 snaps to the grid with pure
    # IEEE ops first; this test feeds BOTH formatters a dense brush of
    # adversarial near-half-grid values (k+0.5 +/- eps ticks) plus the
    # two sf1 culprits and asserts string equality.
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from ast_data_pipeline_spark.functions.exact import q7, q7_sql

    ks = np.arange(-817604170, -817604100, dtype=np.float64)
    vals = []
    for half in (ks + 0.5) * 1e-7:
        for eps in (-5e-9, -1e-12, 0.0, 1e-12, 5e-9):
            vals.append(half + eps)
    # the two observed sf1 straddles (nw_lon / centroid_lat)
    vals += [-81.76041405, 36.01366915]
    pdf = pd.DataFrame({"x": np.array(vals, dtype=np.float64)})
    df = spark.createDataFrame(pdf)
    got = df.select(
        F.format_string("%.7f", q7(F.col("x"))).alias("s")
    ).toPandas()["s"]
    con = duckdb.connect()
    con.register("t", pdf)
    exp = con.execute(
        f"SELECT printf('%.7f', {q7_sql('x')}) AS s FROM t"
    ).df()["s"]
    assert (got.to_numpy() == exp.to_numpy()).all(), (
        pdf.x[got.to_numpy() != exp.to_numpy()].tolist()[:5]
    )
