"""Combined outputs sink (reference combineAndWriteZones + name lists,
index.js:1301-1389, 1708-1743): the 6 product FeatureCollections
(comprehensive / 1970 / now, each with and without oceans), the
timezone-names JSON arrays, and the merged-zone lookup maps.

Feature schema is the reference's exactly: {type: 'Feature',
properties: {tzid}, geometry} (index.js:1319-1327). Files are written
driver-side from collected rows — the zone tables are hundreds of rows
(the 10^12-row side never flows through here); each product is also
persisted as parquet for downstream stages.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (product geojson, reference dist zip name, arcname inside) — the
# reference's zipGeoJsonFiles list (index.js:1459-1477); `zip -j` keeps
# the working file's basename, so the member is combined*.json
GEOJSON_ZIPS = [
    ("comprehensive.geojson", "timezones.geojson.zip", "combined.json"),
    (
        "comprehensive-with-oceans.geojson",
        "timezones-with-oceans.geojson.zip",
        "combined-with-oceans.json",
    ),
    ("1970.geojson", "timezones-1970.geojson.zip", "combined-1970.json"),
    (
        "1970-with-oceans.geojson",
        "timezones-with-oceans-1970.geojson.zip",
        "combined-with-oceans-1970.json",
    ),
    ("now.geojson", "timezones-now.geojson.zip", "combined-now.json"),
    (
        "now-with-oceans.geojson",
        "timezones-with-oceans-now.geojson.zip",
        "combined-with-oceans-now.json",
    ),
]


def _js_number(tok: str):
    """JSON.stringify number parity: JS has one number type, so integral
    doubles render without the '.0' Python floats carry (10 vs 10.0).
    Re-parsing float tokens to int when integral makes json.dumps emit
    the reference writer's exact bytes. Non-integral doubles already
    agree — both sides print the shortest round-trip decimal. (Known
    residual: |v| in [1e-6, 1e-4) non-integral renders 1e-05-style in
    Python vs 0.00001 in JS — unreachable for 1e-6-snapped coordinates
    in practice, and the byte-parity golden would catch it.)"""
    f = float(tok)
    return int(f) if f.is_integer() and abs(f) < 2**53 else f


def write_feature_collection(
    zones: DataFrame, path: str, tzid_order: list[str] | None = None
) -> int:
    """Streamed-array protocol like util/featureWriterStream.js:3-25 —
    header / comma-separated features / footer — collect->write since the
    zone table is small by construction. Byte parity with the reference
    writer is pinned by tests/goldens (node-generated).

    tzid_order: emission order, matching the reference's writer which
    streams land zones in Object.keys(zoneCfg) order and APPENDS ocean
    features afterwards (combineAndWriteZones, index.js:1319-1376) — a
    plain tzid sort would interleave Etc/GMT* bands among the land
    zones in with-oceans products. Tzids missing from the list append
    sorted; None = sorted (the fixture goldens' order)."""
    rows = zones.select("tzid", "geometry").orderBy("tzid").collect()
    if tzid_order is not None:
        rank = {tz: i for i, tz in enumerate(tzid_order)}
        # rows are already tzid-sorted, so unranked tzids keep a sorted
        # tail after the ordered prefix (stable sort)
        rows = sorted(rows, key=lambda r: rank.get(r.tzid, len(rank)))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write('{"type":"FeatureCollection","features":[')
        for i, r in enumerate(rows):
            if i:
                f.write(",")
            f.write(
                json.dumps(
                    {
                        "type": "Feature",
                        "properties": {"tzid": r.tzid},
                        "geometry": json.loads(r.geometry, parse_float=_js_number),
                    },
                    separators=(",", ":"),
                )
            )
        f.write("]}")
    return len(rows)


def _with_oceans_relation(
    name: str,
    land: DataFrame,
    ocean_sel: DataFrame,
    with_oceans_products: dict[str, DataFrame] | None,
    ocean_skip: dict[str, DataFrame] | None,
) -> DataFrame:
    """The with-oceans feature set for one product (reference
    combineAndWriteZones, index.js:1301-1389): base zones — for 1970/now
    these are the derived-with-oceans variants whose reps absorbed member
    ocean bands (index.js:941-1009) — plus every ocean zone NOT merged
    into a group (hasAlikeIn1970/Now skip, index.js:1367-1374)."""
    base = land
    if with_oceans_products and name in with_oceans_products:
        base = with_oceans_products[name].select("tzid", "geometry")
    appended = ocean_sel
    if ocean_skip and name in ocean_skip:
        appended = ocean_sel.join(ocean_skip[name], "tzid", "left_anti")
    return base.unionByName(appended)


def write_name_lists(
    out_dir: str, base_names: list[str], ocean_names: list[str]
) -> None:
    """The reference's name-list products (writeBaseNames,
    index.js:1708-1724), byte-compatible with its JSON.stringify output:
    `timezone-names.json` holds the base zone names in CONFIG order
    (Object.keys(zoneCfg)), `timezone-names-with-oceans.json` appends
    the ocean tzids in band-table order."""
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "timezone-names.json"), "w") as f:
        json.dump(list(base_names), f, separators=(",", ":"))
    with open(os.path.join(out_dir, "timezone-names-with-oceans.json"), "w") as f:
        json.dump(list(base_names) + list(ocean_names), f, separators=(",", ":"))


def combine_and_write(
    products: dict[str, DataFrame],
    oceans: DataFrame,
    out_dir: str,
    with_oceans_products: dict[str, DataFrame] | None = None,
    ocean_skip: dict[str, DataFrame] | None = None,
    base_name_order: list[str] | None = None,
    ocean_name_order: list[str] | None = None,
) -> dict[str, int]:
    """products: {'comprehensive': zones, '1970': ..., 'now': ...} ->
    writes <product>.geojson and <product>-with-oceans.geojson plus
    timezone-names JSONs; returns feature counts per file.

    with_oceans_products: per-product base for the with-oceans variant
    (derived reps with member oceans unioned in, index.js:941-1009);
    defaults to the product's own zones. ocean_skip: per-product tzid
    DataFrame of oceans merged into a group — skipped as standalone
    features (hasAlikeIn1970/Now, index.js:1367-1374).
    base_name_order / ocean_name_order: config/band order for the name
    lists (the reference writes Object.keys(zoneCfg) order); names not
    present in the built products are dropped, extras fall back sorted."""
    counts = {}
    ocean_sel = oceans.select("tzid", "geometry")
    # the reference writer's feature order: land zones in config order,
    # ocean bands appended at the END in declaration order
    # (combineAndWriteZones, index.js:1319-1376). Supplying only the
    # ocean order would INVERT that contract (ranked oceans first, all
    # land falling to the sorted tail) — reject it rather than emit a
    # silently misordered file.
    if ocean_name_order and not base_name_order:
        raise ValueError(
            "ocean_name_order without base_name_order would emit oceans "
            "before land — pass both orders (or neither)"
        )
    combined_order = (
        (base_name_order or []) + (ocean_name_order or [])
    ) or None
    for name, zones in products.items():
        land = zones.select("tzid", "geometry")
        counts[f"{name}.geojson"] = write_feature_collection(
            land, os.path.join(out_dir, f"{name}.geojson"),
            tzid_order=base_name_order,
        )
        with_oc = _with_oceans_relation(
            name, land, ocean_sel, with_oceans_products, ocean_skip
        )
        counts[f"{name}-with-oceans.geojson"] = write_feature_collection(
            with_oc, os.path.join(out_dir, f"{name}-with-oceans.geojson"),
            tzid_order=combined_order,
        )
        # parquet twin for downstream stages
        land.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))
    # name lists (reference writeBaseNames, index.js:1708-1724):
    # timezone-names.json = base zone names, with-oceans appends bands
    all_names = {
        r.tzid for r in products["comprehensive"].select("tzid").distinct().collect()
    }
    ocean_names = {r.tzid for r in ocean_sel.select("tzid").distinct().collect()}

    def _ordered(names: set, order: list[str] | None) -> list[str]:
        if order is None:
            return sorted(names)
        # built names missing from the order list must not vanish from
        # the product: append them sorted after the ordered prefix
        ordered = [n for n in order if n in names]
        return ordered + sorted(names - set(order))

    write_name_lists(
        out_dir,
        _ordered(all_names, base_name_order),
        _ordered(ocean_names, ocean_name_order),
    )
    return counts


def combined_zone_table(
    products: dict[str, DataFrame],
    oceans: DataFrame,
    with_oceans_products: dict[str, DataFrame] | None = None,
    ocean_skip: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """The S8 combined-output relation BEFORE the sink: one row per feature
    per (product, with_oceans) — the reference's six FeatureCollections
    (index.js:1301-1389) as a single partitionable DataFrame. At scale this
    is what `write.partitionBy('product','with_oceans')` consumes; the
    GeoJSON sink above is the small-world twin. with_oceans_products /
    ocean_skip: see combine_and_write."""
    ocean_sel = oceans.select("tzid", "geometry")
    parts = []
    for name, zones in products.items():
        land = zones.select("tzid", "geometry")
        parts.append(
            land.select(
                F.lit(name).alias("product"),
                F.lit(False).alias("with_oceans"),
                "tzid",
                "geometry",
            )
        )
        parts.append(
            _with_oceans_relation(
                name, land, ocean_sel, with_oceans_products, ocean_skip
            ).select(
                F.lit(name).alias("product"),
                F.lit(True).alias("with_oceans"),
                "tzid",
                "geometry",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def write_zone_lookup(zone_groups: DataFrame, strategy: str, path: str) -> None:
    """Merged-zone lookup (reference writeCombinedZoneLookup,
    index.js:1726-1743): member tzid -> representative tzid."""
    rows = (
        zone_groups.where(F.col("strategy") == strategy)
        .select("member_tzid", "rep_tzid")
        .collect()
    )
    lookup = {r.member_tzid: r.rep_tzid for r in rows}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(lookup, f, sort_keys=True, separators=(",", ":"))


def write_combined_zone_lookup(
    zone_groups: DataFrame, strategy: str, out_dir: str
) -> None:
    """Reference-shaped merged-zone maps (writeCombinedZoneLookup,
    index.js:1726-1743): rep -> [member tzids], two variants per product —
    the no-oceans file filters Etc/GMT members out of every group
    (index.js:1729-1733)."""
    rows = (
        zone_groups.where(F.col("strategy") == strategy)
        .groupBy("rep_tzid")
        .agg(F.sort_array(F.collect_list("member_tzid")).alias("members"))
        .collect()
    )
    full = {r.rep_tzid: list(r.members) for r in rows}
    no_oceans = {
        rep: [m for m in members if "Etc/GMT" not in m]
        for rep, members in full.items()
    }
    os.makedirs(out_dir, exist_ok=True)
    with open(
        os.path.join(out_dir, f"timezone-names-with-oceans-{strategy}.json"), "w"
    ) as f:
        json.dump(full, f, sort_keys=True, separators=(",", ":"))
    with open(os.path.join(out_dir, f"timezone-names-{strategy}.json"), "w") as f:
        json.dump(no_oceans, f, sort_keys=True, separators=(",", ":"))
