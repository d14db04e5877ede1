"""In-process stand-ins for the CalTopo API and the CloudTAK submit
endpoint.

The fetcher serves generated envelopes by map URL.  The poster is a
``sink.HeaderPoster`` that stores every body it receives, with its
headers and the id of the process that posted it, as one file in the
operation's post directory; it works on both submit paths: on the
driver (one POST per map) and inside executor tasks (one POST per
partition).  Like a network send, a post costs the sender the body's
bytes and nothing more.  The bodies are checked after the operation,
outside its timed region, against the generator's expectations.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid

from perfbench.gen import Envelope, Expect, coord_digest, id_digest

#: slots of the poster's counter vector
FIELDS = (
    "posts",
    "bytes",
    "features",
    "paths",
    "markers",
    "id_digest",
    "coord_digest",
    "violations",
    "driver_posts",
)


def _max_width(node) -> int:
    if isinstance(node, list):
        if node and all(isinstance(x, (int, float)) for x in node):
            return len(node)
        return max((_max_width(x) for x in node), default=0)
    return 0


def inspect_body(body: str, headers: dict, on_driver: bool = False) -> list[int]:
    """Counter vector (``FIELDS`` order) for one posted body."""
    seen = dict.fromkeys(FIELDS, 0)
    seen["driver_posts"] = int(on_driver)
    seen["posts"] = 1
    seen["bytes"] = len(body.encode("utf-8"))
    if headers.get("Idempotency-Key") != hashlib.sha256(body.encode("utf-8")).hexdigest():
        seen["violations"] += 1
    fc = json.loads(body)
    if fc.get("type") != "FeatureCollection":
        seen["violations"] += 1
    for feat in fc.get("features", []):
        props = feat.get("properties") or {}
        geom = feat.get("geometry")
        seen["features"] += 1
        seen["id_digest"] += id_digest(str(feat.get("id")))
        seen["paths"] += props.get("path") is not None
        color = props.get("marker-color")
        if color is not None:
            if geom and geom.get("type") == "Point" and color.startswith("#"):
                seen["markers"] += 1
            else:
                seen["violations"] += 1
        if geom is None:
            seen["violations"] += 1
            continue
        coords = geom.get("coordinates")
        if _max_width(coords) > 3:
            seen["violations"] += 1
        seen["coord_digest"] += coord_digest(coords)
    return [seen[k] for k in FIELDS]


def make_poster(post_dir: str):
    """A ``sink.HeaderPoster`` writing each post to ``post_dir``."""

    def poster(url: str, body: str, headers: dict) -> None:
        path = os.path.join(post_dir, f"{os.getpid()}-{uuid.uuid4().hex}.json")
        with open(path, "w") as f:
            json.dump({"headers": headers, "body": body}, f)

    return poster


def collect_posts(post_dir: str, driver_pid: int) -> list[int]:
    """Counter vector (``FIELDS`` order) summed over the posts in
    ``post_dir``; removes the directory."""
    counts = [0] * len(FIELDS)
    for name in sorted(os.listdir(post_dir)):
        with open(os.path.join(post_dir, name)) as f:
            post = json.load(f)
        on_driver = name.split("-", 1)[0] == str(driver_pid)
        seen = inspect_body(post["body"], post["headers"], on_driver)
        counts = [a + b for a, b in zip(counts, seen)]
    shutil.rmtree(post_dir)
    return counts


def verdict(counts: list[int], expect: Expect) -> list[str]:
    """Mismatches between what the poster saw and what the generator
    says the pipeline must post; empty when the output is correct."""
    seen = dict(zip(FIELDS, counts))
    problems = []
    if seen["violations"]:
        problems.append(f"{seen['violations']} malformed features or bodies")
    for key in ("features", "paths", "markers", "id_digest", "coord_digest"):
        if seen[key] != getattr(expect, key):
            problems.append(f"{key}: posted {seen[key]}, expected {getattr(expect, key)}")
    if not seen["posts"]:
        problems.append("nothing posted")
    return problems


def make_fetcher(envelopes: list[Envelope]):
    """A ``source.Fetcher`` serving each envelope at its map-state URL."""
    by_id = {env.share_id: env.body for env in envelopes}

    def fetch(url: str) -> str:
        # .../api/v1/map/{share_id}/since/{since}
        return by_id[url.split("/map/", 1)[1].split("/", 1)[0]]

    return fetch
