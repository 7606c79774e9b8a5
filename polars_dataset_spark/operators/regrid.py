"""Regrid — the flagship operator: per-trace spline interpolation of every
value column onto a common coordinate grid.

Reference parity (``/root/reference/polars_dataset.py:212-238`` plus helper
``_apply_spline`` ``:204-210``):

- every value column of every trace (one ``id_vars`` combination) is
  interpolated onto the user-supplied grid;
- struct columns are unnested before and rebuilt after;
- if the grid's name is an ``id_var``, the roles of that id_var and the
  index are swapped first (interpolate across the parameter dimension);
- groups are processed independently (reference ``map_groups``
  ``:225-229``).

Spark-first realization: ``applyInPandas`` over
:func:`polars_dataset_spark.session.group_traces` — traces are
hash-shuffled once into ``defaultParallelism`` partitions, handed to
Python workers as Arrow batches, the numpy kernel
(:mod:`polars_dataset_spark.kernels`) runs per group, and Arrow carries
results back. The grid is a small numpy array captured in the
UDF closure (broadcast with the task, never a join). Output schema is
declared up front from the input schema: id_vars keep their types, index
and value columns become double.

Scale: one shuffle keyed by id_vars into one partition per core, so the
kernel runs on every core whenever there are at least as many traces as
cores (fewer traces cap it at the trace count: a trace is never split).
Trace sizes are bounded by physics (one sweep), so groups are small and
uniform — the ideal applyInPandas workload — and there is no driver
involvement at any trace count.

``interpolate_frame`` is the PCHIP variant (historical reference op,
``/root/reference/build/lib/polars_dataset.py:304-328``): monotone
interpolation, single-point groups passed through untouched.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from polars_dataset_spark.core import Dataset
from polars_dataset_spark.kernels import interp_trace
from polars_dataset_spark.operators.structs import (
    rebuild_structs,
    restore_columns,
    sanitize_columns,
    unnest_structs,
)
from polars_dataset_spark.session import group_traces

__all__ = ["regrid", "interpolate_frame"]


def _grid_array(x) -> tuple[np.ndarray, str | None]:
    """Normalize a grid input (list / numpy / pandas Series) to
    (float64 array, optional name)."""
    name = None
    if isinstance(x, pd.Series):
        name = x.name
        x = x.to_numpy()
    return np.asarray(x, dtype=np.float64), name


def regrid(
    ds: Dataset,
    x,
    name: str | None = None,
    method: str = "cubic",
    bc_type: str = "not-a-knot",
    value_vars: Sequence[str] | None = None,
) -> Dataset:
    """Interpolate every value column of every trace onto the grid ``x``.

    ``x``: list / numpy array / pandas Series of grid points. ``name``
    (or ``x.name`` for a Series) selects the coordinate: the current index
    by default; naming an id_var swaps that id_var with the index first
    (reference role-swap, ``/root/reference/polars_dataset.py:219-223``).

    One hash shuffle on ``id_vars`` into ``defaultParallelism``
    partitions, then an Arrow batch per trace; concurrent tasks =
    min(cores, trace count) (see ``group_traces``).
    """
    grid, grid_name = _grid_array(x)
    name = name or grid_name or ds.index

    if name in ds.id_vars:
        # role swap: interpolate across the parameter dimension
        new_ids = [c if c != name else ds.index for c in ds.id_vars]
        ds = ds.set(index=name, id_vars=new_ids)
    elif name != ds.index:
        raise ValueError(f"grid name {name!r} is neither the index nor an id_var")

    flat_df, schema_map = unnest_structs(ds.df)
    flat_df, dot_map = sanitize_columns(flat_df)  # applyInPandas can't take dotted names
    index = ds.index
    id_vars = list(ds.id_vars)
    vv = list(value_vars) if value_vars else [c for c in flat_df.columns if c not in id_vars and c != index]

    in_schema = flat_df.schema
    out_fields = [in_schema[c] for c in id_vars]
    out_fields.append(T.StructField(index, T.DoubleType()))
    out_fields.extend(T.StructField(c, T.DoubleType()) for c in vv)
    out_schema = T.StructType(out_fields)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        xs = pdf[index].to_numpy(dtype=np.float64)
        out = {iv: np.repeat(pdf[iv].iloc[0], grid.size) for iv in id_vars}
        out[index] = grid
        for c in vv:
            out[c] = interp_trace(xs, pdf[c].to_numpy(dtype=np.float64), grid, method=method, bc_type=bc_type)
        return pd.DataFrame(out)

    result = group_traces(flat_df, id_vars).applyInPandas(fn, schema=out_schema)
    result = rebuild_structs(restore_columns(result, dot_map), schema_map)
    out = Dataset(result, index=index, id_vars=id_vars)
    return out.sort_columns()


def interpolate_frame(
    ds: Dataset,
    x,
    name: str | None = None,
) -> Dataset:
    """Monotone (PCHIP) per-trace interpolation — historical reference op
    ``interpolate_frame`` (``/root/reference/build/lib/polars_dataset.py:
    304-328``). Single-point groups pass through unchanged (reference
    ``:316-317``), so the output grid is only guaranteed for groups with
    ≥2 samples."""
    grid, grid_name = _grid_array(x)
    name = name or grid_name or ds.index
    index = ds.index
    id_vars = list(ds.id_vars)
    flat_df, schema_map = unnest_structs(ds.df)
    flat_df, dot_map = sanitize_columns(flat_df)
    vv = [c for c in flat_df.columns if c not in id_vars and c != index]

    in_schema = flat_df.schema
    out_fields = [in_schema[c] for c in id_vars]
    out_fields.append(T.StructField(index, T.DoubleType()))
    out_fields.extend(T.StructField(c, T.DoubleType()) for c in vv)
    out_schema = T.StructType(out_fields)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            out = {iv: pdf[iv].to_numpy() for iv in id_vars}
            out[index] = pdf[index].to_numpy(dtype=np.float64)
            for c in vv:
                out[c] = pdf[c].to_numpy(dtype=np.float64)
            return pd.DataFrame(out)
        xs = pdf[index].to_numpy(dtype=np.float64)
        out = {iv: np.repeat(pdf[iv].iloc[0], grid.size) for iv in id_vars}
        out[index] = grid
        for c in vv:
            out[c] = interp_trace(xs, pdf[c].to_numpy(dtype=np.float64), grid, method="pchip")
        return pd.DataFrame(out)

    result = group_traces(flat_df, id_vars).applyInPandas(fn, schema=out_schema)
    result = rebuild_structs(restore_columns(result, dot_map), schema_map)
    return Dataset(result, index=index, id_vars=id_vars).sort_columns()
