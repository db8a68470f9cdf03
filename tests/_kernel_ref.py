"""Numpy reference for the assignment surface: the assign_codes kernel on
the coordinates pack_coords_col resolves, as (url, tzid, method) rows —
what assign_tzid_udf_packed must return for the same packed frame."""

import numpy as np
import pandas as pd

from timezone_boundary_builder_spark.operators.spatial_join import (
    KNN_MAX_METERS,
    METHOD_NAMES,
    _band_edges,
    assign_codes,
    unpack_xy,
)


def kernel_codes(cm, bands, lon, lat, knn_max_m=KNN_MAX_METERS):
    """(tzid, method) object arrays for float lon/lat (NaN = no coord)."""
    code, m = assign_codes(cm, _band_edges(bands), len(bands), lon, lat, knn_max_m)
    names = np.asarray(
        list(cm.tzids) + [b["tzid"] for b in bands] + [None], dtype=object
    )
    return names[code], np.asarray(METHOD_NAMES, dtype=object)[m]


def kernel_assign(cm, bands, packed: pd.DataFrame, knn_max_m=KNN_MAX_METERS):
    """packed(url, xy) -> (url, tzid, method), sorted by url."""
    lon, lat = unpack_xy(packed["xy"].to_numpy(dtype=np.int64))
    tz, method = kernel_codes(cm, bands, lon, lat, knn_max_m)
    out = pd.DataFrame({"url": packed["url"].to_numpy(), "tzid": tz, "method": method})
    return out.sort_values("url").reset_index(drop=True)
