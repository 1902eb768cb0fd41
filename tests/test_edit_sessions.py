"""Seeded edit sessions: an updateable engine over a small mixed corpus
(points, lines, polygons, one antimeridian crosser) goes through random
steps, and after every step its whole state is checked against the
single-tile oracle and the registry invariants.

Steps (geojsonvt.ts:87-157, tile-index.ts:36-120): update_data with adds,
removes, geometry updates and property-only updates, a filter= update,
hits on stored tiles, drill-downs to z <= 14, and unknown keys.

Checks after every step:
  * every stored tile, and every tile a step asked for, equals
    geojson_to_tile(current source, z, x, y, wrap=True, clip=True) up to
    the start vertex of polygon rings (perfbench.gates.norm_tile). The
    oracle holds the source as the batches the engine appends: the initial
    corpus, one batch of adds per diff, then one batch per updated
    feature, each wrapped on its own, in that order;
  * registry keys are unique, and tile rows exist only for registered keys;
  * has_source marks stopped tiles only: a flagged tile holds features,
    and a tile with features and without the flag split, so all four of its
    children are registered (invalidation drops a child only together with
    its parent, whose buffered bounds hold the child's);
  * stats() and total agree with the registry.
"""

import json
import random
from collections import Counter

import pytest

from geojson_vt_spark.config import Options
from geojson_vt_spark.operators.engine import GeoJSONVTSpark
from geojson_vt_spark.operators.geojson_to_tile import geojson_to_tile
from perfbench.gates import norm_tile

OPTIONS = Options(updateable=True, max_zoom=14, index_max_zoom=4, index_max_points=12)
N_STEPS = 7


def _box(g, lon, lat, w, h, n):
    """A closed ring of n jittered vertices per side around a box."""
    pts = []
    for i in range(n):
        pts.append([lon + w * i / n, lat])
    for i in range(n):
        pts.append([lon + w, lat + h * i / n])
    for i in range(n):
        pts.append([lon + w - w * i / n, lat + h])
    for i in range(n):
        pts.append([lon, lat + h - h * i / n])
    pts = [[x + g.uniform(-0.05, 0.05), y + g.uniform(-0.05, 0.05)] for x, y in pts]
    return pts + [pts[0]]


def _geometry(g, kind):
    lon, lat = g.uniform(-170, 150), g.uniform(-60, 60)
    if kind == "point":
        return {"type": "Point", "coordinates": [lon, lat]}
    if kind == "multipoint":
        return {"type": "MultiPoint", "coordinates": [
            [lon + g.uniform(0, 8), lat + g.uniform(0, 8)] for _ in range(g.randint(2, 6))
        ]}
    if kind == "line":
        return {"type": "LineString", "coordinates": [
            [lon + 2.5 * i, lat + g.uniform(-3, 3)] for i in range(g.randint(3, 12))
        ]}
    return {"type": "Polygon", "coordinates": [
        _box(g, lon, lat, g.uniform(1, 15), g.uniform(1, 12), g.randint(2, 6))
    ]}


def _feature(g, fid, kind=None):
    kind = kind or g.choice(["point", "multipoint", "line", "polygon", "polygon"])
    return {
        "type": "Feature", "id": fid,
        "properties": {"k": g.randint(0, 9), "name": f"n{fid}"},
        "geometry": _geometry(g, kind),
    }


def _corpus(g):
    feats = [_feature(g, i if i % 2 else f"f{i}") for i in range(16)]
    # the antimeridian crosser: wrapped into a left copy and a center copy
    feats.append({
        "type": "Feature", "id": "cross", "properties": {"k": 1},
        "geometry": {"type": "Polygon", "coordinates": [
            [[172, -8], [191, -8], [191, 6], [172, 6], [172, -8]]
        ]},
    })
    return feats


class SourceModel:
    """The current source as the engine's append order (difference.ts
    semantics): batches of GeoJSON features, each wrapped on its own."""

    def __init__(self, features):
        self.batches = [list(features)]

    def ids(self):
        return [f["id"] for b in self.batches for f in b]

    def _drop(self, gone):
        self.batches = [[f for f in b if json.dumps(f["id"]) not in gone] for b in self.batches]

    def apply(self, diff):
        if diff.get("removeAll"):
            self.batches = []
        adds = diff.get("add") or []
        self._drop({json.dumps(i) for i in diff.get("remove") or []}
                   | {json.dumps(f["id"]) for f in adds})
        if adds:
            self.batches.append(list(adds))
        current = {json.dumps(f["id"]): f for b in self.batches for f in b}
        for u in diff.get("update") or []:
            old = current.get(json.dumps(u["id"]))
            if old is None:
                continue  # wrong id: no-op
            props = dict(old["properties"])
            if u.get("removeAllProperties"):
                props = {}
            for k in u.get("removeProperties") or []:
                props.pop(k, None)
            for kv in u.get("addOrUpdateProperties") or []:
                props[kv["key"]] = kv["value"]
            new = {**old, "properties": props,
                   "geometry": u.get("newGeometry") or old["geometry"]}
            self._drop({json.dumps(u["id"])})
            self.batches.append([new])
            current[json.dumps(u["id"])] = new

    def filter(self, keep):
        self.batches = [[f for f in b if keep(f)] for b in self.batches]

    def tile(self, z, x, y):
        out = []
        for b in self.batches:
            if b:
                out += geojson_to_tile(
                    {"type": "FeatureCollection", "features": b},
                    z, x, y, OPTIONS, wrap=True, clip=True,
                )["features"]
        return norm_tile(out)


def _random_diff(g, model, next_id):
    ids = model.ids()
    diff = {}
    if g.random() < 0.6:
        diff["add"] = [_feature(g, f"a{next_id + i}") for i in range(g.randint(1, 2))]
        if ids and g.random() < 0.3:  # re-add an existing id: a replace
            diff["add"].append(_feature(g, g.choice(ids)))
    if ids and g.random() < 0.5:
        diff["remove"] = g.sample(ids, min(len(ids), g.randint(1, 2)))
    if ids and g.random() < 0.7:
        ups = []
        for fid in g.sample(ids, min(len(ids), g.randint(1, 2))):
            u = {"id": fid}
            if g.random() < 0.5:
                u["newGeometry"] = _feature(g, fid)["geometry"]
            r = g.random()
            if r < 0.3:
                u["removeAllProperties"] = True
            elif r < 0.7:
                u["addOrUpdateProperties"] = [{"key": "k", "value": g.randint(10, 99)}]
                u["removeProperties"] = ["name"]
            ups.append(u)
        ups.append({"id": "no-such-id", "removeAllProperties": True})
        diff["update"] = ups
    if g.random() < 0.15:
        diff["remove"] = ["no-such-id"]  # a no-op diff now and then
        diff.pop("add", None)
        diff.pop("update", None)
    return diff


def _check_state(eng, model, asked):
    reg = {}
    for r in eng.registry().collect():
        key = (r.z, r.x, r.y)
        assert key not in reg, f"registry key {key} repeats"
        reg[key] = r
    tile_keys = {(r.z, r.x, r.y) for r in eng.tiles().select("z", "x", "y").distinct().collect()}
    orphans = sorted(tile_keys - set(reg))
    assert not orphans, f"tile rows without a registry row: {orphans[:5]}"

    for key, r in reg.items():
        z, x, y = key
        kids = [(z + 1, 2 * x + dx, 2 * y + dy) for dx in (0, 1) for dy in (0, 1)]
        if r.has_source:
            assert r.num_features > 0, f"{key} retains an empty source"
        elif r.num_features > 0:
            assert all(k in reg for k in kids), (
                f"{key} holds features, no source and not 4 children"
            )

    stats = eng.stats()
    assert stats == {f"z{z}": n for z, n in Counter(k[0] for k in reg).items()}
    assert eng.total == len(reg)

    for name, tile in eng.all_tiles().items():
        z, x, y = (int(v) for v in name[1:].split("-"))
        assert norm_tile(tile) == model.tile(z, x, y), f"stored tile {name} differs from the oracle"
    for (z, x, y), got in asked:
        want = model.tile(z, x % (1 << z), y) if 0 <= z <= 24 else []
        assert norm_tile(got or []) == want, f"get_tile{(z, x, y)} differs from the oracle"


def _random_key(g, model):
    """A z5-z14 key under a random vertex of a random current feature."""
    import math

    feats = [f for b in model.batches for f in b]
    if not feats:
        return (g.randint(5, 14), 0, 0)
    coords = json.dumps(g.choice(feats)["geometry"]["coordinates"])
    nums = [float(v) for v in coords.replace("[", " ").replace("]", " ").replace(",", " ").split()]
    lon, lat = nums[0], nums[1]
    z = g.randint(5, 14)
    n = 1 << z
    sin = math.sin(math.radians(lat))
    x = int((lon / 360 + 0.5) * n) % n
    y = int((0.5 - 0.25 * math.log((1 + sin) / (1 - sin)) / math.pi) * n)
    return (z, x, min(max(y, 0), n - 1))


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_edit_session_matches_oracle(spark, seed):
    g = random.Random(seed)
    corpus = _corpus(g)
    model = SourceModel(corpus)
    eng = GeoJSONVTSpark(
        spark, data={"type": "FeatureCollection", "features": corpus}, options=OPTIONS
    )
    _check_state(eng, model, [])
    next_id = 0
    for step in range(N_STEPS):
        op = g.choice(["update", "update", "update", "drill", "drill", "hit", "unknown", "filter"])
        asked = []
        if op == "update":
            diff = _random_diff(g, model, next_id)
            next_id += 4
            eng.update_data(diff)
            model.apply(diff)
        elif op == "filter":
            victim = g.choice(model.ids() or ["none"])
            eng.update_data(filter=lambda f, victim=victim: f["id"] != victim)
            model.filter(lambda f: f["id"] != victim)
        elif op == "drill":
            key = _random_key(g, model)
            asked.append((key, eng.get_tile(*key)))
        elif op == "hit":
            keys = sorted(eng.all_tiles())
            name = keys[g.randrange(len(keys))]
            key = tuple(int(v) for v in name[1:].split("-"))
            asked.append((key, eng.get_tile(*key)))
        else:
            z = g.randint(1, 6)
            for key in ((25, 0, 0), (-1, 0, 0), (z, 0, (1 << z) + 3), (z, (1 << z) + 1, 0)):
                got = eng.get_tile(*key)
                if key[0] > 24 or key[0] < 0 or key[2] >= 1 << key[0]:
                    assert got is None, (key, got)
                asked.append((key, got))
        try:
            _check_state(eng, model, asked)
        except AssertionError as e:
            raise AssertionError(f"seed {seed} step {step} ({op}): {e}") from e
