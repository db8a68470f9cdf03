"""Seeded, vectorized input generators for the benchmark workloads.

Every generator is a pure function of (size, seed): the same arguments
give the same rows. Nothing here starts Spark.

    pages_frame(n, seed, "wide")      full-width pages over the fixture world
    pages_frame(n, seed, "slim", W)   slim pages sampled in ring-heavy zone bboxes
    ring_heavy_world(gx, gy, edges, seed)  star-shaped 64-edge zones, one per grid cell
    config_dir(path, seed)            a 419-tzid reference-shaped config dir
    corpus_frame(n, seed)             near-duplicate webtext corpus
"""

from __future__ import annotations

import json
import os
import zoneinfo

import numpy as np
import pandas as pd

MICRO = 1_000_000

# fixture world (sources.fixtures): land zones sit in [-10, 40] x [-40, 30];
# the urban hotspot is inside Test/Alpha, whose west edge is x = 0
FIXTURE_BOXES = [
    (0.0, 0.0, 20.0, 30.0),
    (20.0, 0.0, 40.0, 30.0),
    (0.0, -40.0, 20.0, 0.0),
    (20.0, -40.0, 40.0, 0.0),
    (-10.0, -10.0, 0.0, 10.0),
]
URBAN = (10.0, 10.0)

STOPWORDS = ["the", "a", "of", "and", "to", "in"]
LANGS = np.array(["en", "de", "fr", "es", "zh"])

# kNN resolves offshore points within 1852 m of a zone; expected methods
# are only derived for points clear of that threshold on both sides
KNN_NEAR_M, KNN_FAR_M = 1200.0, 2600.0
EDGE_EPS_M = 5.0
LAT_SPAN = 66.0


# ------------------------------------------------------------------ words


def _vocab(rng, size: int) -> np.ndarray:
    """`size` distinct lowercase pseudo-words of 3-9 letters."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype="S1")
    out: list[str] = []
    seen = set(STOPWORDS)
    while len(out) < size:
        n = size - len(out)
        lens = rng.integers(3, 10, n)
        raw = letters[rng.integers(0, 26, (n, 9))]
        for row, k in zip(raw, lens):
            w = b"".join(row[:k]).decode()
            if w not in seen:
                seen.add(w)
                out.append(w)
    return np.array(out[:size], dtype=object)


def _join_rows(words: np.ndarray, lengths: np.ndarray) -> list[str]:
    """Row i -> ' '.join(words[i, :lengths[i]])."""
    return [" ".join(row[:k]) for row, k in zip(words.tolist(), lengths.tolist())]


def _token_matrix(rng, vocab: np.ndarray, n: int, width: int, stop_p: float):
    """n x width words; every 5th is a stopword, others are with
    probability stop_p."""
    ids = rng.integers(0, len(vocab), (n, width))
    words = vocab[ids]
    stop = rng.random((n, width)) < stop_p
    stop[:, ::5] = True
    words[stop] = np.array(STOPWORDS, dtype=object)[rng.integers(0, 6, int(stop.sum()))]
    return words


# ------------------------------------------------------------ coordinates


def _deg_str(micro: np.ndarray) -> list[str]:
    """Integer micro-degrees -> exact 6-decimal strings ("-12.000305")."""
    whole, frac = np.divmod(np.abs(micro), MICRO)
    sign = np.where(micro < 0, "-", "").tolist()
    return [f"{s}{w}.{f:06d}" for s, w, f in zip(sign, whole.tolist(), frac.tolist())]


_FORMATS = (
    "geo:{},{}",
    "@({}, {})",
    '<meta name="geo.position" content="{};{}">',
    '<meta name="ICBM" content="{}, {}">',
)


def _coord_snippets(rng, lon_u, lat_u, has) -> np.ndarray:
    """Mixed coordinate spellings, all four geocoder formats."""
    fmt = rng.integers(0, len(_FORMATS), len(lon_u)).tolist()
    snip = [
        _FORMATS[f].format(la, lo) if h else ""
        for f, la, lo, h in zip(fmt, _deg_str(lat_u), _deg_str(lon_u), has.tolist())
    ]
    return np.array(snip, dtype=object)


def decoded_lonlat(lon_u: np.ndarray, lat_u: np.ndarray, has: np.ndarray):
    """What the engine's packed codec hands the kernel for these
    micro-degree coordinates (NaN where a page carries no coordinate)."""
    lon = (lon_u + 180 * MICRO) / 1e6 - 180.0
    lat = (lat_u + 90 * MICRO) / 1e6 - 90.0
    lon[~has] = np.nan
    lat[~has] = np.nan
    return lon, lat


def _fixture_coords(rng, n: int):
    """Fixture-world mix: 50% land boxes, 25% urban hotspot, 5% offshore
    just west of x = 0, 10% deep ocean, 10% no coordinate."""
    u = rng.random(n)
    lon = np.zeros(n)
    lat = np.zeros(n)
    boxes = np.array(FIXTURE_BOXES)[rng.integers(0, len(FIXTURE_BOXES), n)]
    land = u < 0.50
    lon[land] = rng.uniform(boxes[land, 0], boxes[land, 2])
    lat[land] = rng.uniform(boxes[land, 1], boxes[land, 3])
    urban = (u >= 0.50) & (u < 0.75)
    lon[urban] = URBAN[0] + rng.uniform(-0.5, 0.5, urban.sum())
    lat[urban] = URBAN[1] + rng.uniform(-0.5, 0.5, urban.sum())
    off = (u >= 0.75) & (u < 0.80)
    lon[off] = -rng.uniform(0.002, 0.015, off.sum())
    lat[off] = rng.uniform(12.0, 25.0, off.sum())
    deep = (u >= 0.80) & (u < 0.90)
    lon[deep] = rng.uniform(-170.0, -100.0, deep.sum())
    lat[deep] = rng.uniform(-80.0, -60.0, deep.sum())
    has = u < 0.90
    return np.round(lon * MICRO).astype(np.int64), np.round(lat * MICRO).astype(np.int64), has


# ------------------------------------------------------- ring-heavy world


def ring_heavy_world(gx: int, gy: int, edges: int, seed: int) -> dict:
    """gx * gy star-shaped polygons of `edges` vertices, one inscribed in
    each cell of a grid over lat +-LAT_SPAN (disjoint by construction; the
    gaps are ocean, and kept wider than the kNN radius by staying off the
    poles), vertices on the 1e-6 grid the packed codec uses. Returns the
    vertex arrays (for the expected-method oracle) and the zone table."""
    rng = np.random.default_rng(seed)
    dx, dy = 360.0 / gx, 2 * LAT_SPAN / gy
    jj, ii = np.divmod(np.arange(gx * gy), gx)
    cx = -180.0 + (ii + 0.5) * dx
    cy = -LAT_SPAN + (jj + 0.5) * dy
    th = 2.0 * np.pi * np.arange(edges) / edges
    phase = rng.uniform(0, 2 * np.pi, gx * gy)
    wob = 1.0 + 0.25 * np.sin(5 * th[None, :] + phase[:, None])
    xs = np.round((cx[:, None] + 0.45 * dx * wob / 1.25 * np.cos(th)) * MICRO) / MICRO
    ys = np.round((cy[:, None] + 0.45 * dy * wob / 1.25 * np.sin(th)) * MICRO) / MICRO
    tzid = [f"W/{j:03d}/{i:03d}" for j, i in zip(jj.tolist(), ii.tolist())]
    geometry = [
        '{"type":"Polygon","coordinates":[['
        + ",".join(f"[{x:.6f},{y:.6f}]" for x, y in zip(rx + rx[:1], ry + ry[:1]))
        + "]]}"
        for rx, ry in zip(xs.tolist(), ys.tolist())
    ]
    table = pd.DataFrame(
        {
            "tzid": tzid,
            "geometry": geometry,
            "min_x": xs.min(1),
            "min_y": ys.min(1),
            "max_x": xs.max(1),
            "max_y": ys.max(1),
        }
    )
    return {"xs": xs, "ys": ys, "table": table}


def _edge_probe(world: dict, z: np.ndarray, lon: np.ndarray, lat: np.ndarray):
    """(inside, distance to the boundary in metres) of each point against
    its own zone polygon z — crossing number and segment distance over the
    zone's edges, all points at once."""
    x1, y1 = world["xs"][z], world["ys"][z]
    x2, y2 = np.roll(x1, -1, axis=1), np.roll(y1, -1, axis=1)
    px, py = lon[:, None], lat[:, None]
    crosses = ((y1 > py) != (y2 > py)) & (
        px < (x2 - x1) * (py - y1) / np.where(y2 == y1, 1.0, y2 - y1) + x1
    )
    inside = (crosses.sum(1) % 2) == 1
    kx = 111_320.0 * np.cos(np.radians(lat))[:, None]
    ky = 110_574.0
    ax, ay = (x1 - px) * kx, (y1 - py) * ky
    bx, by = (x2 - px) * kx, (y2 - py) * ky
    ex, ey = bx - ax, by - ay
    t = np.clip(-(ax * ex + ay * ey) / np.maximum(ex * ex + ey * ey, 1e-12), 0.0, 1.0)
    d = np.hypot(ax + t * ex, ay + t * ey).min(1)
    return inside, d


def _dense_coords(rng, n: int, world: dict):
    """Slim-page coordinates in the ring-heavy world: 60% uniform in a
    zone bbox, 15% just inside a zone edge, 10% just outside (kNN), 5% in
    the zone-free polar south, 10% none. Points whose method would hinge
    on float detail (on an edge, or near the 1852 m kNN threshold) are
    redrawn, so the expected method mix is exact."""
    t = world["table"]
    n_z = len(t)
    lon = np.zeros(n, dtype=np.int64)
    lat = np.zeros(n, dtype=np.int64)
    kind = np.zeros(n, dtype=np.int8)  # 0 bbox 1 in-edge 2 out-edge 3 deep 4 none
    u = rng.random(n)
    kind[u >= 0.60] = 1
    kind[u >= 0.75] = 2
    kind[u >= 0.85] = 3
    kind[u >= 0.90] = 4
    z = rng.integers(0, n_z, n)
    todo = kind < 4
    expect = np.full(n, 4, dtype=np.int8)  # 0 land 2 knn 3 ocean 4 none
    while todo.any():
        idx = np.flatnonzero(todo)
        k = kind[idx]
        zz = z[idx]
        bx0, by0 = t["min_x"].to_numpy()[zz], t["min_y"].to_numpy()[zz]
        bx1, by1 = t["max_x"].to_numpy()[zz], t["max_y"].to_numpy()[zz]
        x = rng.uniform(bx0, bx1)
        y = rng.uniform(by0, by1)
        # edge points: a random vertex pulled toward / pushed away from
        # the zone centre by a few hundred metres
        v = rng.integers(0, world["xs"].shape[1], len(idx))
        vx, vy = world["xs"][zz, v], world["ys"][zz, v]
        ccx, ccy = (bx0 + bx1) / 2, (by0 + by1) / 2
        norm = np.hypot(vx - ccx, vy - ccy)
        off = rng.uniform(100.0, 900.0, len(idx)) / 111_320.0
        sgn = np.where(k == 1, -1.0, 1.0)
        edge = (k == 1) | (k == 2)
        x = np.where(edge, vx + sgn * off * (vx - ccx) / norm, x)
        y = np.where(edge, vy + sgn * off * (vy - ccy) / norm, y)
        deep = k == 3
        x[deep] = rng.uniform(-179.0, 179.0, deep.sum())
        y[deep] = rng.uniform(-89.0, -LAT_SPAN - 5.0, deep.sum())
        xu = np.round(x * MICRO).astype(np.int64)
        yu = np.round(y * MICRO).astype(np.int64)
        dlon, dlat = xu / 1e6, yu / 1e6
        inside, d = _edge_probe(world, zz, dlon, dlat)
        exp = np.where(inside, 0, np.where(d < KNN_NEAR_M, 2, 3)).astype(np.int8)
        exp[deep] = 3
        clear = deep | (
            (d > EDGE_EPS_M) & (inside | (d < KNN_NEAR_M) | (d > KNN_FAR_M))
        )
        ok = idx[clear]
        lon[ok], lat[ok] = xu[clear], yu[clear]
        expect[ok] = exp[clear]
        todo[ok] = False
    return lon, lat, kind < 4, expect


# ------------------------------------------------------------------ pages


def pages_frame(n: int, seed: int, shape: str, world: dict | None = None):
    """Pages in PAGES_SCHEMA column order plus the generator's own record
    of each row's coordinate: (frame, lon_u, lat_u, has, expect) where
    expect is the dense world's exact method class (None for "wide")."""
    rng = np.random.default_rng([seed, n, 1 if shape == "wide" else 2])
    if shape == "wide":
        lon_u, lat_u, has = _fixture_coords(rng, n)
        expect = None
    else:
        lon_u, lat_u, has, expect = _dense_coords(rng, n, world)
    snip = _coord_snippets(rng, lon_u, lat_u, has)
    vocab = _vocab(rng, 4000)
    if shape == "wide":
        # ~1 KB of text: a per-page head, the coordinate (within the first
        # ~20 words, as the fixture pages place it), then a body drawn
        # from a pool of 2048 paragraphs
        head = _join_rows(_token_matrix(rng, vocab, n, 20, 0.2), rng.integers(2, 20, n))
        pool = _join_rows(_token_matrix(rng, vocab, 2048, 190, 0.2), rng.integers(150, 190, 2048))
        tail = np.array(pool, dtype=object)[rng.integers(0, 2048, n)]
    else:
        head = _join_rows(_token_matrix(rng, vocab, n, 6, 0.2), rng.integers(1, 6, n))
        tail = np.array(_join_rows(_token_matrix(rng, vocab, n, 8, 0.2), rng.integers(2, 8, n)), dtype=object)
    head = np.array(head, dtype=object)
    text = head + " " + snip + " " + tail
    if shape == "wide":
        html = [
            f"<html><head><title>{h}</title></head><body><p>{t}</p></body></html>".encode()
            for h, t in zip(head.tolist(), text.tolist())
        ]
    else:
        html = [b"<html/>"] * n
    urls = [f"https://bench.example/{shape}/{seed}/{i:08d}" for i in range(n)]
    base = np.datetime64("2026-03-01T00:00:00", "s")
    ts = base + rng.integers(0, 8 * 86400, n).astype("timedelta64[s]")
    frame = pd.DataFrame(
        {
            "url": urls,
            "warc_ts": pd.to_datetime(ts),
            "html": html,
            "text": text,
            "lang": LANGS[rng.integers(0, len(LANGS), n)].astype(object),
        }
    )
    return frame, lon_u, lat_u, has, expect


def write_pages_table(root: str, frame: pd.DataFrame) -> str:
    """Commit the frame as one append snapshot of an Iceberg-lite pages
    table: one parquet file per ts_day partition, in the layout
    `sources.pages.commit_append` writes, published through the engine's
    own snapshot commit. (commit_append itself needs a Spark session;
    the benchmark's self-test checks that both give the same table.)"""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from timezone_boundary_builder_spark.sources import pages

    schema = pa.schema(
        [
            pa.field("url", pa.string(), nullable=False),
            pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
            pa.field("html", pa.binary()),
            pa.field("text", pa.string()),
            pa.field("lang", pa.string()),
        ]
    )
    data = os.path.join(root, "data", f"batch-{uuid.uuid4().hex[:12]}")
    days = frame["warc_ts"].dt.strftime("%Y-%m-%d")
    manifest = []
    for day, part in frame.groupby(days, sort=True):
        path = os.path.join(data, f"ts_day={day}")
        os.makedirs(path)
        table = pa.Table.from_pandas(
            part.assign(warc_ts=part["warc_ts"].dt.tz_localize("UTC")), schema, preserve_index=False
        )
        pq.write_table(table, os.path.join(path, f"part-00000-{uuid.uuid4()}.snappy.parquet"))
        manifest.append({"path": path, "ts_day": day, "rows": len(part)})
    os.makedirs(os.path.join(root, "metadata"), exist_ok=True)
    return pages._publish_snapshot(root, manifest, pages.current_snapshot_id(root), op="append")


def write_zone_parquet(path: str, table: pd.DataFrame) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(table, preserve_index=False), path)


# ------------------------------------------------------------- config dir

N_TZIDS = 419
N_SHARED = 4


def host_tzids() -> list[str]:
    """Region tzids of the host tzdb (no Etc/ bands, no posix/right
    mirrors, no legacy aliases)."""
    skip = ("Etc/", "posix/", "right/", "SystemV/", "US/", "Canada/", "Brazil/",
            "Mexico/", "Chile/")
    return sorted(
        z
        for z in zoneinfo.available_timezones()
        if "/" in z and not z.startswith(skip)
    )


def config_dir(path: str, seed: int, n_tzids: int = N_TZIDS) -> dict:
    """Write timezones.json / osmBoundarySources.json /
    expectedZoneOverlaps.json in the reference's shape: n_tzids host tzids,
    each initialised from one overpass source, plus N_SHARED disputed
    sources unioned into two zones each and declared as expected
    overlaps (placed south of the loader's source grid). Returns the
    facts the build's output is checked against."""
    rng = np.random.default_rng([seed, n_tzids])
    pool = host_tzids()
    tzids = [pool[i] for i in rng.choice(len(pool), n_tzids, replace=False)]
    tz: dict[str, list] = {}
    sources: dict[str, dict] = {}
    for z in tzids:
        sid = z.replace("/", "-") + "-tz"
        tz[z] = [{"op": "init", "source": "overpass", "id": sid}]
        sources[sid] = {"timezone": z}
    pairs = rng.choice(n_tzids, (N_SHARED, 2), replace=False)
    overlaps = {}
    for k, (a, b) in enumerate(pairs):
        za, zb = tzids[a], tzids[b]
        sid = f"disputed-area-{k}"
        sources[sid] = {"boundary": "disputed"}
        for z in (za, zb):
            tz[z].append({"op": "union", "source": "overpass", "id": sid})
        x0 = -170.0 + 80.0 * k + float(rng.uniform(0, 20))
        overlaps[f"{za}-{zb}"] = [
            {"bounds": [x0, -78.0, x0 + 12.0, -62.0], "description": f"disputed area {k}"}
        ]
    os.makedirs(path, exist_ok=True)
    for name, obj in (
        ("timezones.json", tz),
        ("osmBoundarySources.json", sources),
        ("expectedZoneOverlaps.json", overlaps),
    ):
        with open(os.path.join(path, name), "w") as f:
            json.dump(obj, f, indent=1)
    return {"zones": n_tzids, "oceans": 25, "pairs": N_SHARED}


# ----------------------------------------------------------------- corpus


def corpus_frame(n: int, seed: int) -> tuple[pd.DataFrame, dict]:
    """(doc_id, text, lang) near-duplicate webtext plus its known counts.

    Clusters of 1-4 near-duplicate variants (one word swapped per
    variant, 3-gram Jaccard ~0.9) over 60-100-word documents of which
    ~20% are stopwords; ~6% of rows are exact copies (re-spaced, which
    the exact stage normalizes away); ~3% are 6-word
    stubs the quality gate drops."""
    rng = np.random.default_rng([seed, n, 3])
    vocab = _vocab(rng, 6000)
    n_stub = n * 3 // 100
    n_copy = n * 6 // 100
    n_var = n - n_stub - n_copy
    sizes = rng.choice([1, 1, 1, 2, 3, 4], n_var)
    sizes = sizes[np.cumsum(sizes) <= n_var]
    sizes = np.append(sizes, np.ones(n_var - int(sizes.sum()), dtype=sizes.dtype))
    n_base = len(sizes)
    width = 100
    base = _token_matrix(rng, vocab, n_base, width, 0.2)
    base_len = rng.integers(60, width + 1, n_base)
    owner = np.repeat(np.arange(n_base), sizes)
    words = base[owner].copy()
    lens = base_len[owner]
    first = np.r_[True, owner[1:] != owner[:-1]]
    # each non-first variant swaps one word in the middle third for a
    # token of its own, so no two rows are identical
    col = (lens // 3 + rng.integers(0, 1 << 30, len(owner)) % np.maximum(lens // 3, 1))
    rows = np.flatnonzero(~first)
    words[rows, col[rows]] = np.array([f"v{r}" for r in rows.tolist()], dtype=object)
    texts = np.array(_join_rows(words, lens), dtype=object)
    stub = np.array(_join_rows(_token_matrix(rng, vocab, n_stub, 6, 0.3), np.full(n_stub, 6)), dtype=object)
    src = rng.integers(0, len(texts), n_copy)
    copies = np.char.replace(texts[src].astype(str), " ", " \t ", count=1).astype(object) + "  "
    all_text = np.concatenate([texts, stub, copies])
    order = rng.permutation(n)
    ids = [f"doc-{i:08d}" for i in range(n)]
    frame = pd.DataFrame(
        {
            "doc_id": ids,
            "text": all_text[order],
            "lang": LANGS[rng.integers(0, 3, n)].astype(object),
        }
    )
    facts = {
        "input": n,
        "quality": n - n_stub,
        "exact": n - n_stub - n_copy,
        "neardup_min": n_base,
    }
    return frame, facts


def write_corpus(path: str, frame: pd.DataFrame) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), path, row_group_size=4096)
