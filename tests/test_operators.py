import math
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from polars_dataset_spark import Dataset
from polars_dataset_spark.operators import (
    autophase,
    fit_phase,
    fourier_transform,
    interpolate_frame,
    join_asof,
    rebuild_structs,
    regrid,
    unnest_structs,
    zero_quadrature,
)
from polars_dataset_spark.plans.inspect import _executed


@pytest.fixture(scope="module")
def traces(spark):
    rng = np.random.RandomState(42)
    rows = []
    for t in [10.0, 20.0, 30.0]:
        for f in [0.0, 1.0]:
            x = np.sort(rng.uniform(0, 10, 120))
            for xi in x:
                rows.append(
                    (t, f, float(xi), float(np.sin(xi) + 0.1 * t), float(np.cos(xi)))
                )
    pdf = pd.DataFrame(rows, columns=["temperature", "field", "wavelength", "signal", "ref"])
    return Dataset(
        spark.createDataFrame(pdf), index="wavelength", id_vars=["temperature", "field"]
    )


def test_regrid_grid_contract(traces):
    grid = np.linspace(1, 9, 50)
    out = regrid(traces, grid).df.toPandas()
    assert len(out) == 6 * 50  # groups × grid points
    got = np.sort(out["wavelength"].unique())
    assert np.allclose(got, grid)


def test_regrid_accuracy(traces):
    grid = np.linspace(1, 9, 50)
    out = regrid(traces, grid).df.toPandas()
    g = out[(out.temperature == 20.0) & (out.field == 1.0)].sort_values("wavelength")
    assert np.max(np.abs(g.signal.to_numpy() - (np.sin(grid) + 2.0))) < 1e-2
    assert np.max(np.abs(g.ref.to_numpy() - np.cos(grid))) < 1e-2


def test_regrid_identity_on_grid(spark):
    grid = np.linspace(0, 9, 40)
    pdf = pd.DataFrame(
        {"g": [1.0] * 40 + [2.0] * 40, "x": list(grid) * 2, "y": list(np.sin(grid)) * 2}
    )
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["g"])
    out = regrid(ds, grid).df.toPandas().sort_values(["g", "x"])
    assert np.max(np.abs(out.y.to_numpy() - pdf.sort_values(["g", "x"]).y.to_numpy())) < 1e-9


def test_regrid_role_swap(traces):
    # grid over the temperature id_var: index/id swap (reference :219-223)
    out = regrid(traces, pd.Series(np.linspace(10, 30, 5), name="temperature"))
    assert out.index == "temperature"
    assert "wavelength" in out.id_vars


def test_regrid_struct_roundtrip(spark):
    grid = np.linspace(0, 5, 20)
    pdf = pd.DataFrame(
        {
            "g": [1.0] * 30,
            "t": np.linspace(0, 5, 30),
            "xc": np.cos(np.linspace(0, 5, 30)),
            "yc": np.sin(np.linspace(0, 5, 30)),
        }
    )
    df = spark.createDataFrame(pdf).select(
        "g", "t", F.struct(F.col("xc").alias("X"), F.col("yc").alias("Y")).alias("lockin")
    )
    ds = Dataset(df, index="t", id_vars=["g"])
    out = regrid(ds, grid)
    assert out.schema["lockin"].dataType.simpleString() == "struct<X:double,Y:double>"
    assert out.df.count() == 20


def test_regrid_nan_tolerant(spark):
    grid = np.linspace(0, 9, 10)
    xs = np.linspace(0, 9, 50)
    ys = np.sin(xs)
    ys[5] = np.nan
    pdf = pd.DataFrame({"g": [1.0] * 50, "x": xs, "y": ys})
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["g"])
    out = regrid(ds, grid).df.toPandas()
    assert np.all(np.isfinite(out.y))


def test_regrid_degenerate_group_nan_fill(spark):
    pdf = pd.DataFrame({"g": [1.0, 2.0, 2.0], "x": [0.5, 0.1, 0.9], "y": [1.0, 2.0, 3.0]})
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["g"])
    out = regrid(ds, np.linspace(0, 1, 5)).df.toPandas()
    assert len(out) == 10  # grid kept for both groups
    assert out[out.g == 1.0].y.isna().all()  # single-point trace → NaN
    assert out[out.g == 2.0].y.notna().all()


def test_interpolate_frame_passthrough_single_point(spark):
    pdf = pd.DataFrame({"g": [1.0, 2.0, 2.0], "x": [0.5, 0.1, 0.9], "y": [1.0, 2.0, 3.0]})
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["g"])
    out = interpolate_frame(ds, np.linspace(0, 1, 5)).df.toPandas()
    # single-point group passes through unchanged (reference H4 :316-317)
    assert len(out[out.g == 1.0]) == 1
    assert len(out[out.g == 2.0]) == 5


def test_fourier_peak(spark):
    n = 256
    xs = np.arange(n) * 0.05
    pdf = pd.DataFrame({"g": [1.0] * n, "t": xs, "s": np.sin(2 * np.pi * 3.0 * xs)})
    ds = Dataset(spark.createDataFrame(pdf), index="t", id_vars=["g"])
    ft = fourier_transform(ds)
    peak = ft.df.orderBy(F.desc("s_abs")).first()
    assert peak["frequency"] == pytest.approx(3.0, abs=0.1)
    assert ft.index == "frequency"


def test_autophase_zeroes_quadrature(spark):
    phi0 = 0.7
    xs = np.linspace(0, 10, 300)
    amp = np.sin(xs) * 2.0
    pdf = pd.DataFrame(
        {"t": xs, "X": amp * np.cos(phi0), "Y": -amp * np.sin(phi0)}
    )
    ds = Dataset(spark.createDataFrame(pdf), index="t")
    phi = fit_phase(ds, "X", "Y")
    assert math.isfinite(phi)
    rot = autophase(ds, "X", "Y")
    resid = rot.df.agg(F.sum(F.col("Y") * F.col("Y"))).first()[0]
    assert resid == pytest.approx(0.0, abs=1e-18)
    # in-phase channel keeps the full amplitude (up to sign)
    power = rot.df.agg(F.sum(F.col("X") * F.col("X"))).first()[0]
    assert power == pytest.approx(float(np.sum(amp**2)), rel=1e-9)


def _sweeps(spark, n_traces, points=40):
    """``n_traces`` lock-in sweeps (X, Y) keyed by ``g``."""
    xs = np.linspace(0.0, 5.0, points)
    pdf = pd.concat(
        pd.DataFrame({"g": g, "t": xs, "X": np.sin(xs + g), "Y": 0.4 * np.sin(xs + g)})
        for g in range(n_traces)
    )
    return Dataset(spark.createDataFrame(pdf), index="t", id_vars=["g"])


def test_regrid_shuffles_traces_into_one_partition_per_core(spark):
    # AQE coalesces a plain groupBy shuffle of a small frame into one
    # partition; the explicit-count repartition keeps one task per core
    n = spark.sparkContext.defaultParallelism
    out = regrid(_sweeps(spark, 2 * n), np.linspace(0.5, 4.5, 9)).df
    below = _executed(out).split("FlatMapGroupsInPandas", 1)[1]
    assert re.search(rf"hashpartitioning\(g#\d+L?, {n}\), REPARTITION_BY_NUM", below)
    assert out.rdd.getNumPartitions() == n


def test_autophase_pins_only_a_python_stage_input(spark, tmp_path):
    regridded = regrid(_sweeps(spark, 8), np.linspace(0.5, 4.5, 9))
    rot = autophase(regridded, "X", "Y")
    # fit and rotation read the pinned regrid rows: the kernel runs once
    assert "FlatMapGroupsInPandas" not in _executed(rot.df)
    phi = fit_phase(regridded, "X", "Y")
    want = autophase(regridded, "X", "Y", phi=phi).df.orderBy("g", "t").toPandas()
    got = rot.df.orderBy("g", "t").toPandas()
    pd.testing.assert_frame_equal(got, want)
    # a plain scan is cheaper to read twice than to pin
    path = str(tmp_path / "sweeps.parquet")
    _sweeps(spark, 4).df.write.parquet(path)
    scan = Dataset(spark.read.parquet(path), index="t", id_vars=["g"])
    plan = _executed(autophase(scan, "X", "Y").df)
    assert "FileScan parquet" in plan and "ExistingRDD" not in plan


def test_zero_quadrature_struct(spark):
    xs = np.linspace(0, 5, 50)
    df = spark.createDataFrame(pd.DataFrame({"t": xs, "a": np.sin(xs)})).select(
        "t",
        F.struct((F.col("a") * 0.6).alias("X"), (F.col("a") * -0.3).alias("Y")).alias("lockin"),
    )
    out = zero_quadrature(Dataset(df, index="t"), "lockin")
    assert dict(out.df.dtypes)["lockin"] == "double"


def test_unnest_rebuild_inverse(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [1.0], "a": [2.0], "b": [3.0]})).select(
        "x", F.struct(F.col("a"), F.col("b")).alias("s")
    )
    flat, smap = unnest_structs(df)
    assert set(flat.columns) == {"x", "s.a", "s.b"}
    back = rebuild_structs(flat, smap)
    assert set(back.columns) == {"x", "s"}
    assert back.select("s.a").first()[0] == 2.0


def test_join_asof_backward_forward_tolerance(spark):
    left = spark.createDataFrame(pd.DataFrame({"g": ["a", "a", "b"], "k": [1.0, 5.0, 5.0]}))
    right = spark.createDataFrame(
        pd.DataFrame({"g": ["a", "a", "b"], "k": [2.0, 4.0, 10.0], "val": [10.0, 20.0, 30.0]})
    )
    back = join_asof(left, right, on="k", by="g", strategy="backward")
    got = {(r.g, r.k): r.val for r in back.collect()}
    assert got == {("a", 1.0): None, ("a", 5.0): 20.0, ("b", 5.0): None}
    fwd = join_asof(left, right, on="k", by="g", strategy="forward")
    got = {(r.g, r.k): r.val for r in fwd.collect()}
    assert got == {("a", 1.0): 10.0, ("a", 5.0): None, ("b", 5.0): 30.0}
    tol = join_asof(left, right, on="k", by="g", strategy="forward", tolerance=2.0)
    got = {(r.g, r.k): r.val for r in tol.collect()}
    assert got[("b", 5.0)] is None  # 10-5 > 2 nulled by tolerance


def test_join_asof_equal_keys_inclusive(spark):
    left = spark.createDataFrame(pd.DataFrame({"k": [2.0]}))
    right = spark.createDataFrame(pd.DataFrame({"k": [2.0], "val": [7.0]}))
    out = join_asof(left, right, on="k", strategy="backward").collect()
    assert out[0].val == 7.0


def test_join_asof_broadcast_matches_sort(spark, sf_dir):
    import pandas as pd
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_returnflag"
    )
    od = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_orderdate")
        .agg(F.max("o_totalprice").alias("best_price"))
    )
    kw = dict(on="l_shipdate", right_on="o_orderdate")
    for strategy in ("backward", "forward", "nearest"):
        a = join_asof(li, od, strategy=strategy, method="sort", **kw)
        b = join_asof(li, od, strategy=strategy, method="broadcast", **kw)
        # NB: (l_orderkey, l_linenumber) is NOT unique in the synthetic
        # data — compare whole frames sorted by every column
        cols = sorted(a.columns)
        pa = a.toPandas()[cols].sort_values(cols, ignore_index=True)
        pb = b.toPandas()[cols].sort_values(cols, ignore_index=True)
        pd.testing.assert_frame_equal(pa, pb)


def test_join_asof_broadcast_by_and_tolerance(spark):
    import pandas as pd

    left = spark.createDataFrame(pd.DataFrame({"g": ["a", "a", "b"], "k": [1.0, 5.0, 5.0]}))
    right = spark.createDataFrame(
        pd.DataFrame({"g": ["a", "a", "b"], "k": [2.0, 4.0, 10.0], "val": [10.0, 20.0, 30.0]})
    )
    got = {
        (r.g, r.k): r.val
        for r in join_asof(left, right, on="k", by="g", strategy="backward", method="broadcast").collect()
    }
    assert got == {("a", 1.0): None, ("a", 5.0): 20.0, ("b", 5.0): None}
    got = {
        (r.g, r.k): r.val
        for r in join_asof(
            left, right, on="k", by="g", strategy="forward", tolerance=2.0, method="broadcast"
        ).collect()
    }
    assert got == {("a", 1.0): 10.0, ("a", 5.0): None, ("b", 5.0): None}


def test_join_asof_nearest(spark):
    import pandas as pd

    left = spark.createDataFrame(pd.DataFrame({"k": [1.0, 2.9, 3.0, 100.0]}))
    right = spark.createDataFrame(pd.DataFrame({"k": [2.0, 4.0], "val": [10.0, 20.0]}))
    got = {r.k: r.val for r in join_asof(left, right, on="k", strategy="nearest").collect()}
    # 1.0→2.0 (only forward), 2.9→2.0 (closer back), 3.0→2.0 (tie → backward),
    # 100.0→4.0 (only backward in range... nearest overall)
    assert got == {1.0: 10.0, 2.9: 10.0, 3.0: 10.0, 100.0: 20.0}
    got = {
        r.k: r.val
        for r in join_asof(left, right, on="k", strategy="nearest", tolerance=1.5).collect()
    }
    assert got == {1.0: 10.0, 2.9: 10.0, 3.0: 10.0, 100.0: None}


def test_join_asof_nearest_sort_path(spark):
    # same semantics as the broadcast nearest (ties -> backward), via the
    # union-sort realization (large-right path, previously unsupported)
    import pandas as pd

    left = spark.createDataFrame(
        pd.DataFrame({"g": ["x", "x", "x", "y"], "k": [1.0, 2.9, 3.0, 3.0]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"g": ["x", "x", "y"], "k": [2.0, 4.0, 2.5], "val": [10.0, 20.0, 30.0]})
    )
    got = {
        (r.g, r.k): r.val
        for r in join_asof(
            left, right, on="k", by="g", strategy="nearest", method="sort"
        ).collect()
    }
    assert got == {
        ("x", 1.0): 10.0,   # only forward... nearest overall is 2.0
        ("x", 2.9): 10.0,   # closer backward
        ("x", 3.0): 10.0,   # exact tie -> backward
        ("y", 3.0): 30.0,   # other group
    }
    got = {
        (r.g, r.k): r.val
        for r in join_asof(
            left, right, on="k", by="g", strategy="nearest", method="sort",
            tolerance=0.6,
        ).collect()
    }
    assert got == {
        ("x", 1.0): None,
        ("x", 2.9): None,  # nearest candidate 2.0 at distance 0.9 > 0.6
        ("x", 3.0): None,
        ("y", 3.0): 30.0,
    }


def test_join_asof_auto_fallback_and_guard(spark):
    import pandas as pd
    import pytest

    left = spark.createDataFrame(pd.DataFrame({"k": [1.0, 5.0]}))
    right = spark.createDataFrame(
        pd.DataFrame({"k": [0.0, 2.0, 4.0], "val": [1.0, 2.0, 3.0]})
    )
    # auto with a tiny limit → falls back to the sort path, same answer
    a = join_asof(left, right, on="k", method="auto", broadcast_limit=1)
    b = join_asof(left, right, on="k", method="sort")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # explicit broadcast over the limit → loud error, not a driver OOM
    with pytest.raises(ValueError, match="broadcast_limit"):
        join_asof(left, right, on="k", method="broadcast", broadcast_limit=1)


def test_bitset_prefilter_join_exact(spark):
    from polars_dataset_spark.operators import bitset_prefilter_join
    from pyspark.sql import functions as F

    probe = spark.range(0, 20000).select(
        (F.col("id") % 5000).alias("k"), F.col("id").alias("payload")
    )
    build = spark.range(0, 5000).filter(F.col("id") % 37 == 0).select(
        F.col("id").alias("k")
    )
    got = bitset_prefilter_join(probe, build, on="k", how="left_semi")
    want = probe.join(build, "k", "left_semi")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    inner = bitset_prefilter_join(probe, build, on="k", how="inner")
    assert inner.count() == probe.join(build, "k", "inner").count()
    import pytest as _pt
    with _pt.raises(ValueError):
        bitset_prefilter_join(probe, build, on="k", how="left")


def test_bitset_prefilter_selectivity(spark):
    """The bitset must actually prune: with a tiny build side, the rows
    surviving the pre-filter stage are close to the true matches, not
    the whole probe side."""
    from polars_dataset_spark.operators.bloom import _next_pow2, bitset_prefilter_join
    from pyspark.sql import functions as F

    assert _next_pow2(1) == 1 and _next_pow2(3) == 4 and _next_pow2(16) == 16
    probe = spark.range(0, 50000).select((F.col("id") % 50000).alias("k"))
    build = spark.range(0, 50).select(F.col("id").alias("k"))
    got = bitset_prefilter_join(probe, build, on="k")
    assert got.count() == 50  # exact despite the aggressive pruning


def test_merge_upsert_and_deletes(spark):
    from polars_dataset_spark.operators import apply_deletes, merge_upsert

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    updates = spark.createDataFrame(
        [(2, "B2"), (4, "d")], "k long, v string"
    )
    got = {r.k: r.v for r in merge_upsert(base, updates, on="k").collect()}
    assert got == {1: "a", 2: "B2", 3: "c", 4: "d"}
    left = {r.k for r in apply_deletes(base, updates, on="k").collect()}
    assert left == {1, 3}


def test_dataset_smooth_savgol(spark):
    import pandas as pd
    from polars_dataset_spark import Dataset

    t = np.linspace(0.0, 4.0, 21)
    pdf = pd.concat(
        [
            pd.DataFrame({"g": "a", "x": t, "y": 1.0 + 2.0 * t}),        # linear
            pd.DataFrame({"g": "b", "x": t, "y": t**2 - 3.0 * t + 1.0}),  # quadratic
        ]
    )
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["g"])
    out = ds.smooth("y", window=7, polyorder=2).df.orderBy("g", "x").toPandas()
    # polynomials of degree <= polyorder pass through unchanged, per trace
    assert np.allclose(out["y_smooth"].to_numpy(), pdf.sort_values(["g", "x"])["y"].to_numpy(), atol=1e-9)
