"""Seeded CalTopo envelope generator: the FIXTURES.md "bulk rows" knob.

Builds map-state envelopes in the shape the CalTopo API returns
(``{"status", "timestamp", "result": {"state": FeatureCollection,
"timestamp"}}``) from a seed, and derives from the same features what
the pipeline must post for them.  The same seed always gives the same
envelopes and the same expectations.

The input mix exercises every branch of the reference transform: the
three common geometry types at position widths 2-5 (widths 4 and 5 must
be cut to 3), null geometry (dropped), a ragged ``GeometryCollection``
(the pandas walker fallback), Folder rows (consumed into the join
dimension), and member, dangling and folder-less features.

The repository holds no real CalTopo map export, so most shares are
assumed.  ``INPUT_MIX`` names the source of each value, or marks it
assumed; it is stamped into every run's environment record.  The
coordinate payload (geometry shares, widths, positions per shape) sets
most of the work of truncation and sink serialisation, so it moves
``bulk_features_per_s`` and the ``caltopo.transform_s`` and
``caltopo.sink_s`` layers most; ``map_run_p50_s`` is mostly fixed
per-run cost and depends on it less.
"""

from __future__ import annotations

import json
import random
import zlib
from dataclasses import dataclass, field

#: share of a map's features that are Folder rows
FOLDER_SHARE = 0.02
#: geometry mix of the non-folder features (the rest of the unit is
#: Polygon); null geometry rows are dropped by the pipeline
POINT_SHARE = 0.50
LINE_SHARE = 0.30
NULL_GEOMETRY_SHARE = 0.03
WALKER_SHARE = 0.01
#: share of non-folder features whose folderId names a folder of the
#: same map, and share whose folderId names no folder at all
FOLDERED_SHARE = 0.40
DANGLING_SHARE = 0.05
#: position widths and their weights; widths 4 and 5 must reach the
#: sink cut to 3 (lon, lat, alt)
WIDTHS = (2, 3, 4, 5)
WIDTH_WEIGHTS = (0.40, 0.35, 0.15, 0.10)
#: share of Points carrying a marker-color (posted '#'-prefixed)
MARKER_SHARE = 0.60
#: most positions in a LineString (a Polygon ring takes up to half)
MAX_POSITIONS = 12

ASSUMED = "assumed: no real CalTopo export in the repository"

#: every value of the mix with where it comes from
INPUT_MIX = {
    "folder_rows": (FOLDER_SHARE, f"{ASSUMED}; within SURVEY.md's O(10^2) folders per map"),
    "point": (POINT_SHARE, ASSUMED),
    "linestring": (LINE_SHARE, ASSUMED),
    "polygon": (
        round(1 - POINT_SHARE - LINE_SHARE - NULL_GEOMETRY_SHARE - WALKER_SHARE, 4),
        f"{ASSUMED}; SURVEY.md lists Point/LineString/Polygon/Multi* as the geometry types",
    ),
    "null_geometry": (NULL_GEOMETRY_SHARE, f"{ASSUMED}; dropped by task.ts:93-101"),
    "geometry_collection": (WALKER_SHARE, f"{ASSUMED}; ragged nesting, the walker fallback"),
    "foldered": (FOLDERED_SHARE, f"{ASSUMED}; FIXTURES.md F5"),
    "dangling_folder": (DANGLING_SHARE, f"{ASSUMED}; FIXTURES.md F6"),
    "position_widths": (
        dict(zip(map(str, WIDTHS), WIDTH_WEIGHTS)),
        "widths from FIXTURES.md F4 and CHANGELOG.md:119-121 (CalTopo's 4th+ items); weights assumed",
    ),
    "marker_color_points": (MARKER_SHARE, f"{ASSUMED}; FIXTURES.md F7"),
    "max_positions": (MAX_POSITIONS, ASSUMED),
}


@dataclass
class Expect:
    """What the sink must receive for a set of envelopes.  Every field
    is an order-independent sum, so posts split across partitions add
    up to the same totals."""

    features: int = 0
    paths: int = 0
    markers: int = 0
    id_digest: int = 0
    coord_digest: int = 0

    def add(self, other: Expect) -> None:
        self.features += other.features
        self.paths += other.paths
        self.markers += other.markers
        self.id_digest += other.id_digest
        self.coord_digest += other.coord_digest


@dataclass
class Envelope:
    share_id: str
    body: str
    features_in: int
    expect: Expect = field(default_factory=Expect)


def id_digest(feature_id: str) -> int:
    return zlib.crc32(feature_id.encode("utf-8"))


def coord_digest(node) -> int:
    """Sum of every coordinate value in micro-units, over a nested
    coordinates array; positions are summed whole, so a position that
    kept a 4th or 5th element changes the digest."""
    if isinstance(node, list):
        return sum(coord_digest(x) for x in node)
    return round(node * 1_000_000)


def _position(rng: random.Random, width: int) -> list[float]:
    pos = [round(rng.uniform(-124.0, -114.0), 6), round(rng.uniform(32.0, 42.0), 6)]
    if width >= 3:
        pos.append(round(rng.uniform(0.0, 4000.0), 1))
    if width >= 4:
        pos.append(float(rng.randrange(1_600_000_000, 1_700_000_000)))
    if width >= 5:
        pos.append(round(rng.uniform(0.0, 50.0), 2))
    return pos


def truncated(node):
    """Coordinates with every position cut to its first 3 elements."""
    if node and all(isinstance(x, float) for x in node):
        return node[:3]
    return [truncated(x) for x in node]


def _geometry(rng: random.Random, kind: str, width: int, size: int) -> dict | None:
    if kind == "null":
        return None
    if kind == "Point":
        return {"type": "Point", "coordinates": _position(rng, width)}
    if kind == "LineString":
        n = rng.randint(2, size)
        return {"type": "LineString", "coordinates": [_position(rng, width) for _ in range(n)]}
    if kind == "Polygon":
        n = rng.randint(3, max(3, size // 2))
        ring = [_position(rng, width) for _ in range(n)]
        return {"type": "Polygon", "coordinates": [ring + [list(ring[0])]]}
    # ragged nesting no typed path knows: only the walker can cut it
    return {
        "type": "GeometryCollection",
        "coordinates": [_position(rng, width), [_position(rng, width), _position(rng, width)]],
    }


def _kind(rng: random.Random) -> str:
    u = rng.random()
    for kind, share in (
        ("Point", POINT_SHARE),
        ("LineString", LINE_SHARE),
        ("null", NULL_GEOMETRY_SHARE),
        ("GeometryCollection", WALKER_SHARE),
    ):
        if u < share:
            return kind
        u -= share
    return "Polygon"


def make_envelope(seed: int, share_id: str, n_features: int, max_positions: int = MAX_POSITIONS) -> Envelope:
    """One map's envelope of ``n_features`` features (folders included)
    and the expectations for its posted output."""
    rng = random.Random(f"{seed}:{share_id}")
    n_folders = max(1, round(n_features * FOLDER_SHARE))
    folder_ids = [f"{share_id}-folder{k}" for k in range(n_folders)]
    features = []
    expect = Expect()
    for fid in folder_ids:
        features.append(
            {
                "id": fid,
                "type": "Feature",
                "properties": {
                    "title": f"Team {fid[-3:]}",
                    "class": "Folder",
                    "creator": "bench",
                    "updated": 1_700_000_000_000,
                },
                "geometry": None,
            }
        )
    for j in range(n_features - n_folders):
        fid = f"{share_id}-f{j}"
        kind = _kind(rng)
        width = rng.choices(WIDTHS, WIDTH_WEIGHTS)[0]
        geometry = _geometry(rng, kind, width, max_positions)
        props: dict = {
            "title": f"feature {j}",
            "class": "Marker" if kind == "Point" else ("OperationalPeriod" if geometry is None else "Shape"),
            "creator": "bench",
            "updated": 1_700_000_000_000 + rng.randrange(10**9),
        }
        u = rng.random()
        if u < 0.3:
            props["description"] = f"note {rng.randrange(10**6)}"
        elif u < 0.4:
            props["description"] = ""
        has_marker = kind == "Point" and rng.random() < MARKER_SHARE
        if has_marker:
            props["marker-color"] = f"{rng.randrange(1 << 24):06X}"
            props["marker-symbol"] = "point"
        elif kind in ("LineString", "Polygon"):
            props["stroke"] = f"#{rng.randrange(1 << 24):06X}"
            props["stroke-width"] = float(rng.randint(1, 6))
            props["stroke-opacity"] = 0.8
            if kind == "Polygon":
                props["fill"] = f"#{rng.randrange(1 << 24):06X}"
                props["fill-opacity"] = 0.25
        v = rng.random()
        in_folder = v < FOLDERED_SHARE
        if in_folder:
            props["folderId"] = rng.choice(folder_ids)
        elif v < FOLDERED_SHARE + DANGLING_SHARE:
            props["folderId"] = f"{share_id}-missing{rng.randrange(100)}"
        features.append({"id": fid, "type": "Feature", "properties": props, "geometry": geometry})
        if geometry is not None:
            expect.features += 1
            expect.paths += in_folder
            expect.markers += has_marker
            expect.id_digest += id_digest(fid)
            expect.coord_digest += coord_digest(truncated(geometry["coordinates"]))
    rng.shuffle(features)
    ts = 1_700_000_000_000 + seed
    body = json.dumps(
        {
            "status": "ok",
            "timestamp": ts + 500,
            "result": {"state": {"type": "FeatureCollection", "features": features}, "timestamp": ts},
        },
        separators=(",", ":"),
    )
    return Envelope(share_id, body, n_features, expect)


def make_maps(seed: int, n_maps: int, n_features: int, prefix: str = "map") -> list[Envelope]:
    return [make_envelope(seed, f"{prefix}{i:03d}-{seed}", n_features) for i in range(n_maps)]


def write_jsonl(envelopes: list[Envelope], path: str) -> None:
    """The archived form ``caltopo.source.envelopes_from_jsonl`` reads:
    one ``{"share_id", "body"}`` object per line, body as a string."""
    with open(path, "w") as f:
        for env in envelopes:
            f.write(json.dumps({"share_id": env.share_id, "body": env.body}))
            f.write("\n")


def total_expect(envelopes: list[Envelope]) -> Expect:
    out = Expect()
    for env in envelopes:
        out.add(env.expect)
    return out
