"""Per-trace Fourier transform.

The reference advertises "fourier transform" (``/root/reference/README.md:3``,
``/root/reference/pyproject.toml:4``) but ships no implementation anywhere —
this realizes the advertised capability (SURVEY §2.2 H5): a real FFT of each
value column over each trace's (uniform) index, emitted as one row per
non-negative frequency with amplitude / real / imaginary components.

Requires a uniform index (regrid first for jittered sweeps); spacing is
taken from the per-trace median step and the output frequency column is in
cycles per index-unit. Runs as ``applyInPandas`` over
``session.group_traces`` — the same single shuffle into one partition per
core as regrid.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from polars_dataset_spark.core import Dataset
from polars_dataset_spark.kernels import lomb_scargle_power, rfft_trace
from polars_dataset_spark.operators.structs import sanitize_columns, unnest_structs
from polars_dataset_spark.session import group_traces

__all__ = ["fourier_transform", "lomb_scargle"]


def fourier_transform(ds: Dataset, value_vars=None, freq_name: str = "frequency") -> Dataset:
    """rFFT of each value column per trace. Output columns per value var
    ``v``: ``{v}_re``, ``{v}_im``, ``{v}_abs``."""
    flat_df, _ = unnest_structs(ds.df)
    flat_df, _dots = sanitize_columns(flat_df)  # dotted names break applyInPandas
    index = ds.index
    id_vars = list(ds.id_vars)
    vv = list(value_vars) if value_vars else [c for c in flat_df.columns if c not in id_vars and c != index]

    in_schema = flat_df.schema
    out_fields = [in_schema[c] for c in id_vars]
    out_fields.append(T.StructField(freq_name, T.DoubleType()))
    for c in vv:
        out_fields.append(T.StructField(f"{c}_re", T.DoubleType()))
        out_fields.append(T.StructField(f"{c}_im", T.DoubleType()))
        out_fields.append(T.StructField(f"{c}_abs", T.DoubleType()))
    out_schema = T.StructType(out_fields)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(index)
        xs = pdf[index].to_numpy(dtype=np.float64)
        if xs.size < 2:
            return pd.DataFrame({f.name: pd.Series(dtype="float64") for f in out_fields})
        freqs, specs = rfft_trace(xs, [pdf[c].to_numpy(dtype=np.float64) for c in vv])
        out = {iv: np.repeat(pdf[iv].iloc[0], freqs.size) for iv in id_vars}
        out[freq_name] = freqs
        for c, spec in zip(vv, specs):
            out[f"{c}_re"] = spec.real
            out[f"{c}_im"] = spec.imag
            out[f"{c}_abs"] = np.abs(spec)
        return pd.DataFrame(out)

    result = group_traces(flat_df, id_vars).applyInPandas(fn, schema=out_schema)
    return Dataset(result, index=freq_name, id_vars=id_vars).sort_columns()


def lomb_scargle(
    ds: Dataset,
    freqs,
    value_vars=None,
    freq_name: str = "frequency",
) -> Dataset:
    """Per-trace Lomb–Scargle normalized periodogram at the given
    ordinary frequencies (cycles per index unit) — the spectral analysis
    that works DIRECTLY on uneven/jittered sweeps, where
    :func:`fourier_transform` needs a regrid first. Output: one row per
    (trace, frequency) with ``{v}_power`` per value var.

    Same single-shuffle grouped-map profile as regrid/fourier: one
    ``applyInPandas`` pass over ``session.group_traces``, the vectorised
    O(n·m) trig kernel (``kernels.lomb_scargle_power``) inside, the
    frequency grid a closure broadcast. Traces are physically bounded sweeps, so per-group
    memory is n·m doubles at most."""
    fgrid = np.asarray(list(freqs), dtype=np.float64)
    flat_df, _ = unnest_structs(ds.df)
    flat_df, _dots = sanitize_columns(flat_df)
    index = ds.index
    id_vars = list(ds.id_vars)
    vv = (
        list(value_vars)
        if value_vars
        else [c for c in flat_df.columns if c not in id_vars and c != index]
    )

    in_schema = flat_df.schema
    out_fields = [in_schema[c] for c in id_vars]
    out_fields.append(T.StructField(freq_name, T.DoubleType()))
    for c in vv:
        out_fields.append(T.StructField(f"{c}_power", T.DoubleType()))
    out_schema = T.StructType(out_fields)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(index)
        xs = pdf[index].to_numpy(dtype=np.float64)
        if xs.size < 2:
            return pd.DataFrame({f.name: pd.Series(dtype="float64") for f in out_fields})
        out = {iv: np.repeat(pdf[iv].iloc[0], fgrid.size) for iv in id_vars}
        out[freq_name] = fgrid
        for c in vv:
            out[f"{c}_power"] = lomb_scargle_power(
                xs, pdf[c].to_numpy(dtype=np.float64), fgrid
            )
        return pd.DataFrame(out)

    result = group_traces(flat_df, id_vars).applyInPandas(fn, schema=out_schema)
    return Dataset(result, index=freq_name, id_vars=id_vars).sort_columns()
