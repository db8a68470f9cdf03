"""Derived zone products: 1970 / now merged zones (reference
getZoneCfgSinceTime + group-merge, index.js:169-245, 869-1009).

The grouping fingerprints are precomputed config (FIXTURES.md §6 — the
reference derives them from tzdb transition lists and caches them as
zone-config-1970.json / zone-config-now.json, index.js:247-261; the engine
treats them as an input table for determinism).

Spark shape: each group's representative comes with the grouping table
(rep_tzid, the max-population member, picked where the groupings are
built — tz_fingerprint, reference index.js:230-233); the merge is
groupBy(rep).applyInPandas(cascaded union).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .zone_build import ZONE_SCHEMA, dissolve_group


def build_derived_zones(
    spark: SparkSession, zones: DataFrame, zone_groups: DataFrame, strategy: str
) -> DataFrame:
    """Union all member geometries per representative for one strategy
    (1970 | now). Zones not in any group pass through unchanged (the
    reference keeps ungrouped zones as-is, index.js:896-904)."""
    members = zone_groups.where(F.col("strategy") == strategy).select(
        "rep_tzid", F.col("member_tzid").alias("tzid")
    )
    grouped = members.join(zones, "tzid", "inner").select(
        F.col("rep_tzid").alias("tzid"), "geometry"
    )
    merged = grouped.groupBy("tzid").applyInPandas(
        lambda pdf: dissolve_group(pdf, "tzid"), ZONE_SCHEMA
    )
    ungrouped = zones.join(
        members.select("tzid").distinct(), "tzid", "left_anti"
    ).select(*[F.col(c) for c in merged.columns])
    return merged.unionByName(ungrouped)


def ocean_member_tzids(zone_groups: DataFrame, strategy: str) -> DataFrame:
    """Ocean-band tzids that appear as a MEMBER of any derived group for
    the strategy — the reference's hasAlikeIn1970/Now set
    (oceanZoneHasAlikeZone, index.js:1206-1216). These oceans merge into
    their group representative and are skipped as standalone features in
    the with-oceans combined product (index.js:1367-1374)."""
    return (
        zone_groups.where(
            (F.col("strategy") == strategy)
            & F.col("member_tzid").startswith("Etc/GMT")
        )
        .select(F.col("member_tzid").alias("tzid"))
        .distinct()
    )


def build_derived_zones_with_oceans(
    spark: SparkSession,
    derived: DataFrame,
    oceans: DataFrame,
    zone_groups: DataFrame,
    strategy: str,
) -> DataFrame:
    """With-oceans variant of a derived product (reference
    makeDerivedTimezoneBoundariesWithOceans, index.js:941-1009): start from
    the no-oceans derived geometry per representative and union in every
    ocean-band member's computed boundary. Reps without ocean members pass
    through untouched (the reference re-postprocesses them, but union with
    nothing is the identity and post_process is idempotent)."""
    ocean_members = zone_groups.where(
        (F.col("strategy") == strategy)
        & F.col("member_tzid").startswith("Etc/GMT")
    ).select("rep_tzid", F.col("member_tzid").alias("ocean_tzid"))
    ocean_geoms = ocean_members.join(
        oceans.select(F.col("tzid").alias("ocean_tzid"), "geometry"),
        "ocean_tzid",
    ).select(F.col("rep_tzid").alias("tzid"), "geometry")
    affected = ocean_geoms.select("tzid").distinct()
    to_merge = (
        derived.join(affected, "tzid", "left_semi")
        .select("tzid", "geometry")
        .unionByName(ocean_geoms)
    )
    merged = to_merge.groupBy("tzid").applyInPandas(
        lambda pdf: dissolve_group(pdf, "tzid"), ZONE_SCHEMA
    )
    passthrough = derived.join(affected, "tzid", "left_anti").select(
        *[F.col(c) for c in merged.columns]
    )
    return merged.unionByName(passthrough)
