"""The REAL reference configs driving the engine (round-2 gate).

Loads the reference's own config files — `timezones.json` (419 zones; the
exact op lists: 419 init / 12 union / 9 difference / 1 intersect),
`osmBoundarySources.json` (411 sources), `expectedZoneOverlaps.json`
(25 pairs, 34 allowed bboxes) — and drives build -> validate -> lint at
the real shape. The reference downloads source geometries from Overpass
(index.js:465-587); this sandbox has no network, so every overpass
source gets a DETERMINISTIC synthetic geometry, placed so the REAL
config semantics still bite:

- manual-polygon ops keep their REAL coordinates (`data`,
  timezones.json; e.g. the 10 Antarctic zone inits, the Phenix-City
  patch subtracted from America/Chicago and unioned into
  America/New_York, the Macquarie intersect triangle);
- a source subtracted from another zone (e.g. Europe-Simferopol-tz out
  of Europe/Moscow, index.js:829-854 op lists) is placed INSIDE the
  subtracting zone's init box, so the difference is non-trivial and the
  final zones are disjoint — the real-world containment relation;
- a source unioned into TWO zones (the Kalapani / China-Bhutan disputed
  areas, osmBoundarySources.json:910) is placed inside the pair's first
  allowed bbox from expectedZoneOverlaps.json, so the shared-source
  overlap lands where the reference's validation allows it;
- a zone whose op list later subtracts/intersects a REAL manual polygon
  gets its init box placed around that polygon (straddling it for the
  Pacific/Auckland south-of-59S cap), so the op changes the result;
- every expected-overlap pair gets a planted union patch (inner 40% of
  the pair's first allowed bbox) appended to BOTH zones' op lists, so
  all 25 pairs ACTUALLY overlap and the bounds check runs non-vacuously
  (reference index.js:1142-1147);
- all remaining sources go on a world grid that avoids every reserved
  real-coordinate bbox, so no UNEXPECTED overlap can occur.

The emitted tables are schema-identical to sources/fixtures.py, so the
whole Part A pipeline (zone_build/validate/lint/oceans/derived) runs on
them unchanged.
"""

from __future__ import annotations

import hashlib
import json
import os
from functools import lru_cache

import pandas as pd

REF_DIR = os.environ.get("TZBB_REFERENCE_DIR", "/root/reference")

# placement constants (degrees). The grid keeps a wide margin so planted
# patches / real manual polygons can never touch a gridded zone.
GRID_LON = (-175.0, 175.0)
GRID_LAT = (-50.0, 78.0)
CELL_W, CELL_H = 10.0, 6.0
CELL_MARGIN = 0.2  # fraction shrunk off each cell side
RESERVE_PAD = 0.75  # inflation around reserved real-coordinate bboxes
PATCH_SHRINK = 0.4  # planted patch = inner 40% of the allowed bbox


def _load(name: str, ref_dir: str) -> dict:
    path = os.path.join(ref_dir, name)
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError as e:
        raise FileNotFoundError(
            f"reference config {name} not found at {path}: set TZBB_REFERENCE_DIR "
            "to a directory holding the reference's timezones.json, "
            "osmBoundarySources.json and expectedZoneOverlaps.json"
        ) from e


def _box_gj(x0, y0, x1, y1) -> str:
    return json.dumps(
        {
            "type": "Polygon",
            "coordinates": [[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]],
        },
        separators=(",", ":"),
    )


def _poly_gj(data: list) -> str:
    """Reference manual-polygon `data` = polygon ring array; close rings
    that do not repeat their first point."""
    rings = []
    for ring in data:
        r = [list(p) for p in ring]
        if r[0] != r[-1]:
            r.append(list(r[0]))
        rings.append(r)
    return json.dumps(
        {"type": "Polygon", "coordinates": rings}, separators=(",", ":")
    )


def _data_bbox(data: list) -> tuple:
    xs = [p[0] for ring in data for p in ring]
    ys = [p[1] for ring in data for p in ring]
    return (min(xs), min(ys), max(xs), max(ys))


def _intersects(a, b, pad=0.0) -> bool:
    return (
        a[0] - pad <= b[2]
        and a[2] + pad >= b[0]
        and a[1] - pad <= b[3]
        and a[3] + pad >= b[1]
    )


def _shrink(bb, frac):
    cx, cy = (bb[0] + bb[2]) / 2, (bb[1] + bb[3]) / 2
    hw, hh = (bb[2] - bb[0]) * frac / 2, (bb[3] - bb[1]) * frac / 2
    return (cx - hw, cy - hh, cx + hw, cy + hh)


def _expand(bb, pad):
    return (bb[0] - pad, bb[1] - pad, bb[2] + pad, bb[3] + pad)


def split_pair_key(key: str, zone_ids: set) -> tuple:
    """expectedZoneOverlaps keys are 'ZoneA-ZoneB' where zone names may
    themselves contain '-' (Africa/Porto-Novo): split at the '-' where
    both halves are real zone ids (reference index.js:1075 builds the key
    the other way around)."""
    for i, ch in enumerate(key):
        if ch == "-":
            a, b = key[:i], key[i + 1 :]
            if a in zone_ids and b in zone_ids:
                return a, b
    raise ValueError(f"cannot split overlap pair key {key!r}")


@lru_cache(maxsize=2)
def _world(ref_dir: str = REF_DIR) -> dict:
    tz = _load("timezones.json", ref_dir)
    src_cfg = _load("osmBoundarySources.json", ref_dir)
    overlaps = _load("expectedZoneOverlaps.json", ref_dir)
    zone_ids = set(tz)

    pairs = []  # (tz_a, tz_b, [bounds...], [descriptions...])
    for key, blist in overlaps.items():
        a, b = split_pair_key(key, zone_ids)
        pairs.append((a, b, [e["bounds"] for e in blist], [e.get("description") for e in blist]))

    # ---- reserved real-coordinate space: manual polys + allowed bounds
    reserved = []
    for ops in tz.values():
        for o in ops:
            if o["source"] == "manual-polygon":
                reserved.append(_data_bbox(o["data"]))
    for _, _, blist, _ in pairs:
        reserved.extend(tuple(bb) for bb in blist)

    placed: dict[str, tuple] = {}  # source_id -> box

    # ---- zones whose later ops subtract/intersect a REAL manual polygon:
    # the init box must be placed around (or straddling) that polygon
    for z, ops in tz.items():
        if ops[0]["source"] != "overpass":
            continue
        later = [
            o
            for o in ops[1:]
            if o["source"] == "manual-polygon"
            and o["op"] in ("difference", "intersect")
        ]
        if not later:
            continue
        bbs = [_data_bbox(o["data"]) for o in later]
        bb = (
            min(b[0] for b in bbs),
            min(b[1] for b in bbs),
            max(b[2] for b in bbs),
            max(b[3] for b in bbs),
        )
        if bb[2] - bb[0] >= 350.0:
            # the Pacific/Auckland 'remove everything south of 59S' cap:
            # straddle its top edge at the zone's real longitude so the
            # difference removes the box's southern half
            box = (166.0, bb[3] - 3.0, 178.0, bb[3] + 4.0)
        else:
            box = _expand(bb, 1.0)
        placed[ops[0]["id"]] = box

    # ---- sources unioned into >=2 zones (shared disputed areas): place
    # inside the pair's first allowed bbox so the overlap is expected
    union_users: dict[str, list] = {}
    for z, ops in tz.items():
        for o in ops[1:]:
            if o["source"] == "overpass" and o["op"] == "union":
                union_users.setdefault(o["id"], []).append(z)
    pair_bounds = {}
    for a, b, blist, _ in pairs:
        pair_bounds[(a, b)] = blist
        pair_bounds[(b, a)] = blist
    for sid, users in union_users.items():
        if sid in placed:
            continue
        if len(users) >= 2:
            blist = pair_bounds.get((users[0], users[1]))
            if blist is None:
                raise ValueError(
                    f"shared union source {sid} used by {users} has no "
                    f"expected-overlap pair"
                )
            placed[sid] = _shrink(tuple(blist[0]), PATCH_SHRINK)

    # ---- sources subtracted from another zone: defer until the parent
    # init box exists, then nest inside it
    diff_children: dict[str, list] = {}  # parent init sid -> [child sid]
    for z, ops in tz.items():
        if ops[0]["source"] != "overpass":
            continue
        for o in ops[1:]:
            if o["source"] == "overpass" and o["op"] == "difference":
                diff_children.setdefault(ops[0]["id"], []).append(o["id"])
    deferred = {c for cs in diff_children.values() for c in cs}

    # ---- everything else: world grid avoiding all reserved space
    def _cells():
        y = GRID_LAT[1] - CELL_H
        while y >= GRID_LAT[0]:
            x = GRID_LON[0]
            while x + CELL_W <= GRID_LON[1]:
                yield (x, y, x + CELL_W, y + CELL_H)
                x += CELL_W
            y -= CELL_H

    cells = iter(_cells())
    taken = list(placed.values())
    for sid in sorted(src_cfg):
        if sid in placed or sid in deferred:
            continue
        while True:
            cell = next(cells)
            box = (
                cell[0] + CELL_W * CELL_MARGIN,
                cell[1] + CELL_H * CELL_MARGIN,
                cell[2] - CELL_W * CELL_MARGIN,
                cell[3] - CELL_H * CELL_MARGIN,
            )
            if any(_intersects(box, r, RESERVE_PAD) for r in reserved):
                continue
            if any(_intersects(box, t, RESERVE_PAD) for t in taken):
                continue
            placed[sid] = box
            taken.append(box)
            break

    # ---- nest subtracted sources inside their parent's box
    for parent, children in diff_children.items():
        px0, py0, px1, py1 = placed[parent]
        w = (px1 - px0) / max(len(children), 1)
        for k, child in enumerate(sorted(children)):
            cx0 = px0 + k * w
            placed[child] = (
                cx0 + 0.25 * w,
                py0 + 0.30 * (py1 - py0),
                cx0 + 0.75 * w,
                py0 + 0.70 * (py1 - py0),
            )

    missing = set(src_cfg) - set(placed)
    if missing:
        raise ValueError(f"unplaced sources: {sorted(missing)[:5]}")
    return {
        "tz": tz,
        "src_cfg": src_cfg,
        "pairs": pairs,
        "placed": placed,
    }


def real_sources_pdf(ref_dir: str = REF_DIR) -> pd.DataFrame:
    w = _world(ref_dir)
    rows = []
    for sid in sorted(w["src_cfg"]):
        cfg = w["src_cfg"][sid]
        kind = (
            "timezone"
            if "timezone" in cfg
            else ("boundary" if "boundary" in cfg else sorted(cfg)[0])
        )
        gj = _box_gj(*w["placed"][sid])
        rows.append(
            {
                "source_id": sid,
                "query_kind": kind,
                "geometry": gj,
                "content_hash": hashlib.md5(gj.encode()).hexdigest(),
            }
        )
    return pd.DataFrame(rows)


def real_zones_config_pdf(ref_dir: str = REF_DIR) -> pd.DataFrame:
    """Real op lists + planted expected-overlap union patches. The
    `planted` column separates the reference's own ops (419/12/9/1 per
    kind) from the synthetic patches appended for the 25 pairs."""
    w = _world(ref_dir)
    rows = []
    planted_ops: dict[str, list] = {}
    for a, b, blist, _ in w["pairs"]:
        patch = _box_gj(*_shrink(tuple(blist[0]), PATCH_SHRINK))
        desc_a = f"planted expected-overlap patch with {b}"
        desc_b = f"planted expected-overlap patch with {a}"
        planted_ops.setdefault(a, []).append((patch, desc_a))
        planted_ops.setdefault(b, []).append((patch, desc_b))
    for tzid, ops in w["tz"].items():
        seq = 0
        for o in ops:
            rows.append(
                {
                    "tzid": tzid,
                    "op_seq": seq,
                    "op": o["op"],
                    "source": o["source"],
                    "source_id": o.get("id"),
                    "geometry": (
                        _poly_gj(o["data"]) if o["source"] == "manual-polygon" else None
                    ),
                    "description": o.get("description"),
                    "planted": False,
                }
            )
            seq += 1
        for patch, desc in planted_ops.get(tzid, []):
            rows.append(
                {
                    "tzid": tzid,
                    "op_seq": seq,
                    "op": "union",
                    "source": "manual-polygon",
                    "source_id": None,
                    "geometry": patch,
                    "description": desc,
                    "planted": True,
                }
            )
            seq += 1
    return pd.DataFrame(rows)


def real_expected_overlaps_pdf(ref_dir: str = REF_DIR) -> pd.DataFrame:
    """The 34 REAL allowed bboxes (expectedZoneOverlaps.json), one row per
    bounds entry — reference index.js:1142-1147 consumes them the same
    way."""
    w = _world(ref_dir)
    rows = []
    for a, b, blist, descs in w["pairs"]:
        for bb, desc in zip(blist, descs):
            rows.append(
                {
                    "tz_a": a,
                    "tz_b": b,
                    "min_x": float(bb[0]),
                    "min_y": float(bb[1]),
                    "max_x": float(bb[2]),
                    "max_y": float(bb[3]),
                    "description": desc,
                }
            )
    return pd.DataFrame(rows)


def real_ocean_bands_pdf() -> pd.DataFrame:
    """The reference's hard-coded 25-band ocean table (index.js:107-133):
    Etc/GMT+12 .. Etc/GMT-12, 15-degree bands centered on each UTC offset
    meridian, with the two half-width dateline bands."""
    rows = [{"tzid": "Etc/GMT+12", "left": -180.0, "right": -172.5}]
    for n in range(11, 0, -1):  # Etc/GMT+11 .. Etc/GMT+1 (west of 0)
        center = -15.0 * n
        rows.append(
            {"tzid": f"Etc/GMT+{n}", "left": center - 7.5, "right": center + 7.5}
        )
    rows.append({"tzid": "Etc/GMT", "left": -7.5, "right": 7.5})
    for n in range(1, 12):  # Etc/GMT-1 .. Etc/GMT-11 (east of 0)
        center = 15.0 * n
        rows.append(
            {"tzid": f"Etc/GMT-{n}", "left": center - 7.5, "right": center + 7.5}
        )
    rows.append({"tzid": "Etc/GMT-12", "left": 172.5, "right": 180.0})
    return pd.DataFrame(rows)


def real_ocean_declared_tzids() -> list[str]:
    """Ocean tzids in the reference's DECLARED order (index.js:107-133:
    Etc/GMT-12 east first, down to Etc/GMT+12) — exactly reversed from
    the ascending-longitude band table above, which assignment needs for
    searchsorted. The declared order is what writeBaseNames appends to
    timezone-names-with-oceans.json (index.js:1708-1724), so name-list
    byte parity depends on it."""
    return list(real_ocean_bands_pdf()["tzid"])[::-1]
