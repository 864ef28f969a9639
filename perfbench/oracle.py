"""Independent numpy brute force over the generated boundary rings.

Nothing here imports the engine: the rings are read back from the
fixture file the benchmark generated, and every answer is computed by
brute force over all rings, so an engine defect cannot cancel out.

Features are keyed by `region_id`, the engine's feature key: the
feature's 1-based line number in the file. Admin codes are not unique
in the generated fixture, and comparing row lists rather than sets of
codes lets a duplicated result row fail the check.

- `Rings.contains`: even-odd point-in-polygon (the engine's Q1 hit
  semantics) for a batch of points, one region_id set per point.
- `Rings.nearest_per_deep`: for each admin level, the feature whose
  boundary is nearest by haversine, with its distance in metres (the
  engine's Q2 tolerance semantics).
"""
from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np

EARTH_R = 6378137.0  # the reference's sphere, which the engine also uses
# a point closer than this (degrees) to an edge is ambiguous for
# even-odd containment: edge-touch hits both neighbours in the engine
EDGE_EPS = 1e-9


def haversine_m(lng1, lat1, lng2, lat2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dphi = p2 - p1
    dlmb = np.radians(lng2) - np.radians(lng1)
    a = np.sin(dphi / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dlmb / 2) ** 2
    return 2 * EARTH_R * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


@dataclass
class Feature:
    rid: int  # region_id: the feature's line number
    fid: str
    deep: int
    ring: np.ndarray  # (n, 2) closed ring, lng/lat
    bbox: tuple[float, float, float, float]


class Rings:
    """All features of a one-feature-per-line GeoJSON file."""

    def __init__(self, path: str):
        self.features: list[Feature] = []
        with open(path) as f:
            for rid, line in enumerate(f, start=1):
                line = line.strip().rstrip(",")
                if not line.startswith('{"type":"Feature"'):
                    continue
                feat = json.loads(line)
                ring = np.asarray(feat["geometry"]["coordinates"][0],
                                  dtype=np.float64)
                self.features.append(Feature(
                    rid=rid, fid=feat["properties"]["id"],
                    deep=int(feat["properties"]["deep"]),
                    ring=ring,
                    bbox=(ring[:, 0].min(), ring[:, 1].min(),
                          ring[:, 0].max(), ring[:, 1].max())))
        self.deeps = sorted({f.deep for f in self.features})
        # every segment of every ring, flattened, for nearest searches
        a = [f.ring[:-1] for f in self.features]
        b = [f.ring[1:] for f in self.features]
        self.seg_a = np.concatenate(a)
        self.seg_b = np.concatenate(b)
        self.seg_feat = np.concatenate(
            [np.full(len(x), i) for i, x in enumerate(a)])

    @property
    def ring_points(self) -> int:
        return int(sum(len(f.ring) for f in self.features))

    def contains(self, lng: np.ndarray, lat: np.ndarray):
        """Per point: (set of region_ids containing it, ambiguous flag)."""
        lng = np.asarray(lng, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        hits: list[set[int]] = [set() for _ in range(len(lng))]
        ambiguous = np.zeros(len(lng), dtype=bool)
        for f in self.features:
            x0, y0, x1, y1 = f.bbox
            sel = np.nonzero(
                (lng >= x0 - EDGE_EPS) & (lng <= x1 + EDGE_EPS)
                & (lat >= y0 - EDGE_EPS) & (lat <= y1 + EDGE_EPS))[0]
            if not len(sel):
                continue
            px, py = lng[sel, None], lat[sel, None]
            ax, ay = f.ring[:-1, 0], f.ring[:-1, 1]
            bx, by = f.ring[1:, 0], f.ring[1:, 1]
            # even-odd crossing count of a ray towards +x
            straddle = (ay > py) != (by > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                xcross = ax + (py - ay) * (bx - ax) / (by - ay)
            inside = (np.sum(straddle & (px < xcross), axis=1) % 2) == 1
            # planar distance to the ring, to flag edge-touch points
            dx, dy = bx - ax, by - ay
            ll = dx * dx + dy * dy
            with np.errstate(divide="ignore", invalid="ignore"):
                t = np.clip(((px - ax) * dx + (py - ay) * dy) / ll, 0.0, 1.0)
            t = np.where(ll > 0, t, 0.0)
            d = np.hypot(ax + t * dx - px, ay + t * dy - py).min(axis=1)
            ambiguous[sel[d < EDGE_EPS]] = True
            for k in sel[inside]:
                hits[k].add(f.rid)
        return hits, ambiguous

    def nearest_per_deep(self, lng: float, lat: float) -> dict:
        """{deep: [(distance_m, region_id), ...] sorted ascending} — the
        nearest point of each feature's boundary, found per segment as
        the closest point in a cos(lat)-scaled plane, measured by
        haversine."""
        kx = np.cos(np.radians(lat))
        ax, ay = self.seg_a[:, 0], self.seg_a[:, 1]
        dx = self.seg_b[:, 0] - ax
        dy = self.seg_b[:, 1] - ay
        ll = (dx * kx) ** 2 + dy ** 2
        with np.errstate(divide="ignore", invalid="ignore"):
            t = ((lng - ax) * kx * kx * dx + (lat - ay) * dy) / ll
        t = np.where(ll > 0, np.clip(t, 0.0, 1.0), 0.0)
        d = haversine_m(lng, lat, ax + t * dx, ay + t * dy)
        per_feat = np.full(len(self.features), np.inf)
        np.minimum.at(per_feat, self.seg_feat, d)
        out: dict[int, list[tuple[float, int]]] = {}
        for i, f in enumerate(self.features):
            out.setdefault(f.deep, []).append((float(per_feat[i]), f.rid))
        for v in out.values():
            v.sort()
        return out

    def outer_vertices(self) -> tuple[np.ndarray, np.ndarray]:
        """Vertices on the outer frame of the partition, with their
        outward unit normals: in a watertight partition every interior
        vertex of the top level is shared by two rings, so a vertex that
        occurs in exactly one top-level ring lies on the outside."""
        top = [f for f in self.features if f.deep == self.deeps[0]]
        count: dict[tuple[float, float], int] = {}
        for f in top:
            for x, y in map(tuple, f.ring[:-1]):
                count[(x, y)] = count.get((x, y), 0) + 1
        pts, normals = [], []
        for f in top:
            r = f.ring
            area2 = np.sum(r[:-1, 0] * r[1:, 1] - r[1:, 0] * r[:-1, 1])
            sign = 1.0 if area2 > 0 else -1.0  # CCW → outward is (dy, -dx)
            for i in range(len(r) - 1):
                if count[tuple(r[i])] != 1:
                    continue
                prev = r[i - 1] if i > 0 else r[-2]
                tx, ty = r[i + 1] - prev
                n = np.array([ty, -tx]) * sign
                norm = np.hypot(*n)
                if norm > 0:
                    pts.append(r[i])
                    normals.append(n / norm)
        return np.asarray(pts), np.asarray(normals)


def check_q1(rings: Rings, lng, lat, got: list[list[int]]):
    """(checked, mismatched, first mismatch) for the engine's region_id
    rows of each point against even-odd truth: every true hit exactly
    once and nothing else. Edge-touch points are skipped as ambiguous."""
    want, ambiguous = rings.contains(lng, lat)
    checked = mismatched = 0
    example = None
    for i, (w, g, amb) in enumerate(zip(want, got, ambiguous)):
        if amb:
            continue
        checked += 1
        if sorted(g) != sorted(w):
            mismatched += 1
            example = example or (f"({lng[i]!r}, {lat[i]!r}): engine "
                                  f"{sorted(g)}, truth {sorted(w)}")
    return checked, mismatched, example


def check_q2(rings: Rings, lng: float, lat: float, tol_m: float,
             got: list[tuple[int, int, float | None]]):
    """(checked, mismatched, first mismatch) over the levels of one Q2
    point; `got` is the engine's (region_id, deep, distance or None)
    rows for the point.

    A point inside the partition must return exactly its Q1 hit set with
    no distance. Otherwise, per level, the nearest feature must come
    back with its haversine distance when it is within the tolerance
    (-1: unlimited) and nothing must come back when it is beyond it.
    Levels where the tolerance falls inside the 24-gon's inscribed band,
    or where two features tie, are skipped as ambiguous."""
    hits, amb = rings.contains(np.array([lng]), np.array([lat]))
    where = f"({lng!r}, {lat!r}) tol {tol_m}"
    if amb[0]:
        return 0, 0, None
    if hits[0]:
        if (sorted(g[0] for g in got) == sorted(hits[0])
                and all(g[2] is None for g in got)):
            return 1, 0, None
        return 1, 1, f"{where}: engine {got}, truth inside {sorted(hits[0])}"
    by_deep: dict[int, list[tuple[int, float | None]]] = {}
    for rid, deep, dist in got:
        by_deep.setdefault(deep, []).append((rid, dist))
    checked = mismatched = 0
    example = None
    for deep, ranked in rings.nearest_per_deep(lng, lat).items():
        d0, rid0 = ranked[0]
        rows = by_deep.get(deep, [])
        if len(ranked) > 1 and ranked[1][0] - d0 < 1.0:
            continue  # two features tie for nearest
        if tol_m >= 0 and 0.98 * tol_m <= d0 <= 1.01 * tol_m:
            continue  # inside the 24-gon's inscribed/escribed band
        checked += 1
        if tol_m >= 0 and d0 > tol_m:
            ok = not rows
        else:
            ok = (len(rows) == 1 and rows[0][0] == rid0
                  and rows[0][1] is not None
                  and abs(rows[0][1] - d0) <= max(2.0, 2e-4 * d0))
        if not ok:
            mismatched += 1
            example = example or (f"{where} deep {deep}: engine {rows}, "
                                  f"truth {ranked[:2]}")
    return checked, mismatched, example
