"""getTile + lazy drill-down parity (reference: test/get-tile.test.ts)."""

from geojson_vt_spark.config import Options
from geojson_vt_spark.operators.engine import GeoJSONVTSpark

from .conftest import load_fixture
from .util import count_jobs, deep_equal

SQUARE = [
    {
        "geometry": [[[-64, 4160], [-64, -64], [4160, -64], [4160, 4160], [-64, 4160]]],
        "type": 3,
        "tags": {"name": "Pennsylvania", "density": 284.3},
        "id": "42",
    }
]


def test_get_tile_us_states_drilldown(spark):
    # default options: index stops at z0 (numPoints < 100k); getTile(7,37,48)
    # exercises the drill-down split with ancestor pruning
    eng = GeoJSONVTSpark(spark, data=load_fixture("us-states.json"), options=Options())

    tile = eng.get_tile(7, 37, 48)
    ok, p = deep_equal(tile, load_fixture("us-states-z7-37-48.json"))
    assert ok, f"z7-37-48 differs at {p}"

    sq = eng.get_tile(9, 148, 192)
    ok, p = deep_equal(sq, SQUARE)
    assert ok, f"z9-148-192 differs at {p}"

    # string coordinates are accepted (get-tile.test.ts:36 — '7','37','48')
    tile_s = eng.get_tile("7", "37", "48")
    ok, p = deep_equal(tile_s, load_fixture("us-states-z7-37-48.json"))
    assert ok, f"string-coords z7-37-48 differs at {p}"

    assert eng.get_tile(11, 800, 400) is None
    assert eng.get_tile(-5, 123, 400) is None
    assert eng.get_tile(25, 200, 200) is None


def test_drill_down_keeps_store_keys_unique(spark):
    """Drill-down re-entry drops the rows of tiles the store already holds:
    the start tile (the subtree kernel emits its root rows when it is
    routed) and siblings an earlier drill-down registered that an update
    left valid. After a drill-down, and after update_data followed by a
    drill-down, no registry key or tile-feature row may repeat."""
    eng = GeoJSONVTSpark(
        spark, data=load_fixture("us-states.json"),
        options=Options(updateable=True),
    )

    def assert_unique():
        reg = [
            (r.z, r.x, r.y)
            for r in eng.store.registry_df().select("z", "x", "y").collect()
        ]
        assert len(reg) == len(set(reg))
        tiles = [
            (r.z, r.x, r.y, tuple(r.okey))
            for r in eng.store.tiles_df().select("z", "x", "y", "okey").collect()
        ]
        assert len(tiles) == len(set(tiles))

    assert eng.get_tile(7, 37, 48)  # below the indexed zoom: drill-down
    assert_unique()
    eng.update_data({"add": [{
        "type": "Feature", "id": "added", "properties": {},
        "geometry": {"type": "Point", "coordinates": [-74.5, 40.0]},
    }]})
    tile = eng.get_tile(7, 37, 48)  # its ancestors were invalidated
    assert "added" in [f.get("id") for f in tile]
    assert_unique()


def test_get_tile_fractional_coords_guard(spark):
    # get-tile.test.ts:41 — negative z with fractional x/y returns null
    eng = GeoJSONVTSpark(spark, data=load_fixture("us-states.json"), options=Options())
    assert eng.get_tile(-5, 123.25, 400.25) is None


def test_get_tile_empty_index_returns_none(spark):
    # get-tile.test.ts:15-31 — empty plain index and empty cluster index
    empty = {"type": "FeatureCollection", "features": []}
    eng = GeoJSONVTSpark(spark, data=empty, options=Options())
    assert eng.get_tile(0, 0, 0) is None
    ceng = GeoJSONVTSpark(spark, data=empty, options=Options(cluster=True))
    assert ceng.get_tile(0, 0, 0) is None


def test_get_tile_unbuffered_lr_edges(spark):
    eng = GeoJSONVTSpark(
        spark,
        data={"type": "LineString", "coordinates": [[0, 90], [0, -90]]},
        options=Options(buffer=0),
    )
    assert eng.get_tile(2, 1, 1) is None
    got = eng.get_tile(2, 2, 1)
    ok, p = deep_equal(
        got, [{"geometry": [[[0, 0], [0, 4096]]], "type": 2, "tags": None}]
    )
    assert ok, f"differs at {p}: {got}"


def test_get_tile_unbuffered_tb_edges(spark):
    eng = GeoJSONVTSpark(
        spark,
        data={
            "type": "LineString",
            "coordinates": [[-90, 66.51326044311188], [90, 66.51326044311188]],
        },
        options=Options(buffer=0),
    )
    got = eng.get_tile(2, 1, 0)
    ok, p = deep_equal(
        got, [{"geometry": [[[0, 4096], [4096, 4096]]], "type": 2, "tags": None}]
    )
    assert ok, f"differs at {p}: {got}"
    assert eng.get_tile(2, 1, 1) == []


def test_get_tile_polygon_boundary_clip(spark):
    eng = GeoJSONVTSpark(
        spark,
        data={
            "type": "Polygon",
            "coordinates": [
                [
                    [42.1875, 57.32652122521708],
                    [47.8125, 57.32652122521708],
                    [47.8125, 54.16243396806781],
                    [42.1875, 54.16243396806781],
                    [42.1875, 57.32652122521708],
                ]
            ],
        },
        options=Options(buffer=1024),
    )
    got = eng.get_tile(5, 19, 9)
    expected = [
        {
            "geometry": [
                [[3072, 3072], [5120, 3072], [5120, 5120], [3072, 5120], [3072, 3072]]
            ],
            "type": 3,
            "tags": None,
        }
    ]
    ok, p = deep_equal(got, expected)
    assert ok, f"differs at {p}: {got}"


def test_get_tile_x_wrap(spark):
    eng = GeoJSONVTSpark(
        spark,
        data={"type": "Point", "coordinates": [0.0, 0.0]},
        options=Options(index_max_zoom=0, index_max_points=1),
    )
    t = eng.get_tile(1, 0, 0)
    # x=-2 wraps to x=0 at z1 (tile-index.ts:86)
    assert eng.get_tile(1, -2, 0) == t


ADDED_POINT = {"add": [{
    "type": "Feature", "id": "added", "properties": {},
    "geometry": {"type": "Point", "coordinates": [-74.5, 40.0]},
}]}


def _budget_engine(spark):
    """The job-budget setup: a first pass to z7 over us-states, which is one
    subtree-kernel call, run on the caller's thread like every build job."""
    return GeoJSONVTSpark(
        spark, data=load_fixture("us-states.json"),
        options=Options(updateable=True, index_max_zoom=7, index_max_points=200),
    )


def test_hit_job_budget(spark):
    """A stored tile is one shared lookup (read_tiles): 1 Spark job on a
    fresh engine, after update_data and after a drill-down. Every frame a
    hit reads is a checkpoint, filtered by literals at most: the first
    pass's and the root rebuild's subtree-kernel output, the compacted
    store update_data leaves, and a drill-down's kernel output minus the
    keys the store already held. No hit re-runs a broadcast or a lazy
    registry aggregate."""
    eng = _budget_engine(spark)
    want = eng.all_tiles()
    for key in ((0, 0, 0), (7, 37, 48)):
        tile, jobs = count_jobs(spark, lambda: eng.get_tile(*key))
        assert tile == want["z%d-%d-%d" % key] and jobs == 1, (key, jobs)
    eng.update_data(ADDED_POINT)
    tile, jobs = count_jobs(spark, lambda: eng.get_tile(0, 0, 0))
    assert "added" in [f.get("id") for f in tile] and jobs == 1, jobs
    assert eng.get_tile(12, 1207, 1539) is not None  # drill-down
    for key in ((12, 1207, 1539), (0, 0, 0)):
        tile, jobs = count_jobs(spark, lambda: eng.get_tile(*key))
        assert tile is not None and jobs == 1, (key, jobs)


def test_edit_job_budget(spark):
    """update_data and a drill-down run only the jobs that compute
    something, kernel-thread jobs included. update_data: the new source's
    checkpoint (which also counts its rows and vertices, so no job probes
    the affected set and the root rebuild needs no counter job), the
    compaction of the invalidation anti-join (two broadcasts and the
    checkpoint) and the root rebuild's one kernel call: 5 jobs. A z12
    drill-down: the miss lookup, the ancestor lookup (whose registry row
    gives the build its start counts), one kernel call and the tile read:
    4 jobs. One job of headroom each."""
    eng = _budget_engine(spark)
    _, jobs = count_jobs(spark, lambda: eng.update_data(ADDED_POINT))
    assert jobs <= 6, jobs
    tile, jobs = count_jobs(spark, lambda: eng.get_tile(12, 1207, 1539))
    assert tile is not None and jobs <= 5, jobs
    # a second round costs the same: nothing accumulates in the store plan
    _, jobs = count_jobs(spark, lambda: eng.update_data({"remove": ["added"]}))
    assert jobs <= 6, jobs
    tile, jobs = count_jobs(spark, lambda: eng.get_tile(12, 1208, 1539))
    assert tile is not None and jobs <= 5, jobs


def test_drill_down_clears_entry_tile_source(spark):
    """A drill-down splits its entry tile, which then keeps no source
    (tile-index.ts:191): on the budget setup, get_tile(12, 1207, 1539)
    enters at (7, 37, 48), whose registry row loses has_source with its
    counters unchanged, and whose retained source rows leave the store.
    Every tile stored before the drill-down is unchanged."""
    eng = _budget_engine(spark)
    entry = (7, 37, 48)

    def registry_row(key):
        rows = [
            r.asDict() for r in eng.registry().collect() if (r.z, r.x, r.y) == key
        ]
        assert len(rows) == 1, rows
        return rows[0]

    def source_keys():
        return {
            (r.z, r.x, r.y)
            for r in eng.store.sources_df().select("z", "x", "y").collect()
        }

    before = registry_row(entry)
    assert before["has_source"] and entry in source_keys()
    tiles = eng.all_tiles()
    assert eng.get_tile(12, 1207, 1539) is not None

    after = registry_row(entry)
    assert not after["has_source"]
    assert {k: v for k, v in after.items() if k != "has_source"} == {
        k: v for k, v in before.items() if k != "has_source"
    }
    assert entry not in source_keys()
    now = eng.all_tiles()
    assert {k: now[k] for k in tiles} == tiles
