"""Seeded, byte-stable source tables for the benchmark workloads.

Every table is a pure function of (GEN_VERSION, workload, seed, sizes):
each block draws from its own ``random.Random`` seeded with a string
(string seeds hash through sha512, so PYTHONHASHSEED and the process do
not matter), coordinates are rounded to 7 decimals and records are
serialized with sorted keys.  The engine only ever sees the resulting
``(repo, path, commit, lang, content)`` rows.

Blocks never share node, way or relation ids and no way crosses a block,
so the reference implementation can be run block by block (oracle.py).
"""

from __future__ import annotations

import hashlib
import json
import math
import random

GEN_VERSION = 2
LANG = "osmjson"

# every class here is in the engine's default highway whitelist
KEPT = ("residential", "tertiary", "secondary", "primary", "unclassified",
        "trunk", "road", "motorway_link", "secondary_link", "tertiary_link")
# records the highway filter must drop
DROPPED_TAGS = ({"highway": "footway"}, {"highway": "cycleway"}, {"highway": "service"},
                {"highway": "steps"}, {"waterway": "stream"}, {"building": "yes"})
RESTRICTIONS = ("no_left_turn", "no_right_turn", "no_straight_on",
                "only_left_turn", "only_right_turn", "only_straight_on")

# id stride per block: node, way and relation ids of block b live in
# [b * STRIDE + 1, (b + 1) * STRIDE)
STRIDE = 1_000_000


class Block:
    """One city block: records in scan order plus id allocators."""

    def __init__(self, rng: random.Random, index: int, lon0: float, lat0: float):
        self.rng = rng
        self.base = (index + 1) * STRIDE
        self.lon0 = lon0
        self.lat0 = lat0
        self.nodes: list[dict] = []
        self.ways: list[dict] = []
        self.rels: list[dict] = []
        self.kept_ways: list[dict] = []
        self._next = {"node": 1, "way": 1, "relation": 1}

    def _id(self, kind: str) -> int:
        i = self._next[kind]
        self._next[kind] = i + 1
        return self.base + i

    def node(self, lon: float, lat: float) -> int:
        nid = self._id("node")
        self.nodes.append({"type": "node", "id": nid,
                           "lon": round(self.lon0 + lon, 7), "lat": round(self.lat0 + lat, 7)})
        return nid

    def way(self, nodes: list[int], tags: dict, kept: bool = True) -> int:
        w = {"type": "way", "id": self._id("way"), "nodes": nodes, "tags": tags}
        self.ways.append(w)
        if kept:
            self.kept_ways.append(w)
        return w["id"]

    def street(self, nodes: list[int], oneway_p: float = 0.3) -> int:
        """A kept way with a random class and one-way tag."""
        tags = {"highway": self.rng.choice(KEPT)}
        u = self.rng.random()
        if u < oneway_p:
            tags["oneway"] = "yes" if u < oneway_p / 2 else "1"
        elif u < oneway_p + 0.05:
            tags["oneway"] = "no"
        return self.way(nodes, tags)

    def relation(self, tags: dict, members: list[tuple]) -> None:
        self.rels.append({"type": "relation", "id": self._id("relation"), "tags": tags,
                          "members": [{"type": t, "ref": r, "role": role}
                                      for t, r, role in members]})

    def records(self) -> list[dict]:
        return self.nodes + self.ways + self.rels


def _grid(b: Block, gx: int, gy: int, step: float, diagonals: bool) -> list[list[int]]:
    """Jittered street grid; streets are split into 1-3 ways per row /
    column and occasionally broken by a gap.  ``diagonals`` adds one
    diagonal per cell (road triangles)."""
    rng = b.rng
    ids = [[b.node(c * step + rng.uniform(-0.2, 0.2) * step,
                   r * step + rng.uniform(-0.2, 0.2) * step)
            for c in range(gx)] for r in range(gy)]

    def lay(line: list[int]) -> None:
        cuts = sorted(rng.sample(range(1, len(line) - 1), k=min(2, len(line) - 2)))
        cuts = cuts[: rng.randint(0, len(cuts))]
        start = 0
        for end in cuts + [len(line) - 1]:
            part = line[start:end + 1]
            if len(part) > 3 and rng.random() < 0.15:
                gap = rng.randint(1, len(part) - 3)
                b.street(part[:gap + 1])
                b.street(part[gap + 1:])
            elif len(part) >= 2:
                b.street(part)
            start = end

    for r in range(gy):
        lay(ids[r])
    for c in range(gx):
        lay([ids[r][c] for r in range(gy)])
    if diagonals:
        for r in range(gy - 1):
            for c in range(gx - 1):
                if rng.random() < 0.5:
                    b.street([ids[r][c], ids[r + 1][c + 1]])
                else:
                    b.street([ids[r][c + 1], ids[r + 1][c]])
    return ids


def _dropped(b: Block, grid_ids: list[list[int]], step: float, n: int) -> None:
    """Ways the highway filter drops (over private and grid nodes — they
    must not change use counts) and nodes no kept way references."""
    rng = b.rng
    flat = [nid for row in grid_ids for nid in row]
    for _ in range(n):
        own = [b.node(rng.uniform(-1, 0) * step, rng.uniform(-1, 0) * step) for _ in range(2)]
        nodes = own + rng.sample(flat, 2) if rng.random() < 0.5 else own
        b.way(nodes, dict(rng.choice(DROPPED_TAGS)), kept=False)
    b.node(-2 * step, -2 * step)  # isolated node


def _restrictions(b: Block, n: int) -> None:
    """Well-formed restrictions of all six types at junctions, plus the
    malformed and inapplicable shapes the restriction scan must skip."""
    rng = b.rng
    at: dict[int, list[int]] = {}
    for w in b.kept_ways:
        for nid in set(w["nodes"]):
            at.setdefault(nid, []).append(w["id"])
    junctions = sorted(nid for nid, ws in at.items() if len(ws) >= 2)
    if not junctions:
        return
    kept = {w["id"] for w in b.kept_ways}
    dropped = [w["id"] for w in b.ways if w["id"] not in kept]
    for k in range(n):
        via = rng.choice(junctions)
        frm, to = rng.sample(at[via], 2)
        members = [("way", frm, "from"), ("node", via, "via"), ("way", to, "to")]
        rng.shuffle(members)
        b.relation({"restriction": RESTRICTIONS[k % len(RESTRICTIONS)], "type": "restriction"},
                   members)
    via = rng.choice(junctions)
    frm, to = rng.sample(at[via], 2)
    rtype = rng.choice(RESTRICTIONS)
    ok = [("way", frm, "from"), ("node", via, "via"), ("way", to, "to")]
    for tags, members in (
        ({"restriction": rtype}, ok),
        ({"restriction": rtype}, ok[:2]),                                      # 2 members
        ({"restriction": rtype}, ok + [("node", via, "via")]),                 # 4 members
        ({"restriction": rtype}, [("way", frm, "frm")] + ok[1:]),              # role typo
        ({"restriction": rtype}, [ok[0], ("way", to, "via"), ok[2]]),          # via is a way
        ({"restriction": rtype}, [ok[0], ok[1], ("node", via, "to")]),         # to is a node
        ({"type": "route", "route": "bus"}, ok),                               # no restriction tag
        ({"restriction": rtype}, [ok[0], ("node", via + 1, "via"), ok[2]]),    # duplicate (from, to): first wins
    ):
        b.relation(tags, members)
    if dropped:
        b.relation({"restriction": rtype},
                   [("way", rng.choice(dropped), "from"), ok[1], ok[2]])       # from was dropped


def _hub(b: Block, lon: float, lat: float, k: int, radius: float,
         attach: list[int], ring: bool) -> None:
    """A junction of degree ``k``: spokes from a hub node to ``k`` ring
    nodes; every fourth ring node links back to the grid.  ``ring`` joins
    consecutive ring nodes, closing hub-ring-ring road triangles."""
    rng = b.rng
    hub = b.node(lon, lat)
    spokes = []
    for i in range(k):
        a = 2 * math.pi * i / k
        spokes.append(b.node(lon + radius * math.cos(a), lat + radius * math.sin(a)))
    for s in spokes:
        b.street([hub, s], oneway_p=0.2)
    if ring:
        for i in range(k):
            b.street([spokes[i], spokes[(i + 1) % k]], oneway_p=0.2)
    for i in range(0, k, 4):
        b.street([spokes[i], rng.choice(attach)], oneway_p=0.0)


def _tail_degrees(n: int, lo: int, hi: int, alpha: float) -> list[int]:
    """``n`` degrees at the quantiles of a Pareto(lo, alpha) capped at
    ``hi``: the same heavy tail, so the same work, for every seed."""
    return [min(hi, int(lo * (1.0 - (j + 0.5) / n) ** (-1.0 / alpha))) for j in range(n)]


def _block(workload: str, seed: int, index: int, size: dict) -> Block:
    rng = random.Random(f"perfbench/{GEN_VERSION}/{workload}/{seed}/{index}")
    step = 0.001
    g = size["grid"]
    b = Block(rng, index, 30.0 + (index % 50) * 0.05, 50.0 + (index // 50) * 0.05)
    if workload == "osm_ingest":
        ids = _grid(b, g, g, step, diagonals=False)
        _dropped(b, ids, step, n=max(2, g // 2))
        _restrictions(b, n=size["restrictions"])
    elif workload == "hub_city_resume":
        # triangulated streets, a handful of high-degree hubs, and many
        # mid-size ring junctions with a heavy-tailed degree
        ids = _grid(b, g, g, step, diagonals=True)
        flat = [nid for row in ids for nid in row]
        lo, hi = size["hub_min"], size["hub_max"]
        for h in range(size["hubs"]):
            k = lo + (hi - lo) * ((index + h) % 4) // 3
            _hub(b, (g + 2 + 3 * h) * step, (g // 2) * step, k, step, flat, ring=False)
        degrees = _tail_degrees(size["junctions"], 6, size["junction_max"], alpha=1.2)
        rng.shuffle(degrees)
        for j, k in enumerate(degrees):
            _hub(b, (j % 8) * 3 * step, (g + 2 + (j // 8) * 3) * step, k, step, flat, ring=True)
        _dropped(b, ids, step, n=2)
        _restrictions(b, n=size["restrictions"])
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return b


def block_records(workload: str, seed: int, index: int, size: dict) -> list[dict]:
    """Records of one block, in scan order."""
    return _block(workload, seed, index, size).records()


def source_rows(workload: str, seed: int, size: dict) -> list[tuple]:
    """The source table: one (repo, path, commit, lang, content) row per
    block, in the engine's scan order (repo, path)."""
    rows = []
    repo = f"osm/{workload}-{seed}"
    for i in range(size["blocks"]):
        path = f"blocks/block-{i:05d}.osmjson"
        content = "\n".join(json.dumps(r, separators=(",", ":"), sort_keys=True)
                            for r in block_records(workload, seed, i, size))
        commit = hashlib.sha256(f"{repo}/{path}".encode()).hexdigest()[:40]
        rows.append((repo, path, commit, LANG, content))
    return rows


def table_sha256(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for row in rows:
        for field in row:
            h.update(field.encode())
            h.update(b"\0")
    return h.hexdigest()
