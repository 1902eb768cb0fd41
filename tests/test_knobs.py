"""Inventory of the package's environment knobs and engine crossings.
Engines run one production path; tuning constants live in their modules
(tests monkeypatch them). A new SPARK_GRAFT_* variable therefore needs a
deliberate edit here, and so does a pandas crossing in an Arrow-native
engine."""

import pathlib
import re

import geojson_vt_spark

ALLOWED = {"TABLE_FORMAT", "MEDIA_FAKE"}
ROOT = pathlib.Path(geojson_vt_spark.__file__).parent


def test_env_knob_inventory():
    found = {
        m
        for path in ROOT.rglob("*.py")
        for m in re.findall(r"SPARK_GRAFT_([A-Z_]+)", path.read_text())
    }
    assert found == ALLOWED, sorted(found ^ ALLOWED)


def test_pyramid_and_grid_engines_have_no_pandas_crossing():
    """The pyramid, grid-cluster and MinHash signature kernels take and
    return Arrow batches; a pandas crossing must not creep back into any
    of them."""
    for rel in ("plans/pyramid.py", "cluster/grid.py", "training.py"):
        text = (ROOT / rel).read_text()
        for banned in ("mapInPandas", "applyInPandas", "import pandas"):
            assert banned not in text, f"{rel}: {banned}"


def test_driver_built_frames_go_through_local_frame():
    """`createDataFrame(<list>)` scans through Python workers; every
    driver-built frame goes through `model.local_frame`, the only caller."""
    found = {
        str(path.relative_to(ROOT)): path.read_text().count("createDataFrame(")
        for path in ROOT.rglob("*.py")
    }
    assert {rel: n for rel, n in found.items() if n} == {"model.py": 1}


def test_data_pipeline_operators_have_no_engine_selectors():
    """One production path per hygiene/training operator: no public function
    lets its caller pick an engine, a join strategy or a loop budget, and
    the removed second engines stay gone."""
    import inspect

    from geojson_vt_spark import hygiene, training

    banned = {
        "engine", "algorithm", "hits_join", "boiler_cap", "n_shards",
        "round_budget", "vocab_broadcast",
    }
    for mod in (hygiene, training):
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if name.startswith("_") or fn.__module__ != mod.__name__:
                continue
            params = set(inspect.signature(fn).parameters)
            assert not params & banned, (mod.__name__, name, params & banned)
    assert list(inspect.signature(training.q_simhash_dedup).parameters) == [
        "spark", "sf_dir",
    ]
    for mod, name in [
        (training, "ann_topk_ivf_matmul"),
        (training, "_round6_half_up_np"),
        (training, "_q_simhash_dedup_md5"),
        (training, "q_dedup_cluster_cc_star"),
        (hygiene, "LINE_BOILER_CAP"),
    ]:
        assert not hasattr(mod, name), name


def test_spatial_joins_have_one_cell_grid():
    """Quadkeys are the one cell key of the cell-binned joins: no caller
    picks a cell scheme, and the removed scheme seam stays gone."""
    import inspect

    from geojson_vt_spark.operators import spatial_join

    params = inspect.signature(spatial_join.point_in_box_join).parameters
    assert "scheme" not in params, list(params)
    assert not (ROOT / "operators" / "cells.py").exists()
    removed = (
        "CellScheme", "QuadkeyCells", "HilbertCells", "hilbert_d_numpy",
        "H3Cells", "SphereCells", "sphere_cell_numpy", "_cell_scheme",
        "cell_col",
    )
    for path in ROOT.rglob("*.py"):
        text = path.read_text()
        for name in removed:
            assert not re.search(rf"\b{name}\b", text), (path.name, name)


def test_pandas_crossing_inventory():
    """Six mapInPandas sites remain (updates filter, spatial-join refine,
    geojson_to_tile, documents parse, media decode, analytics event
    features); a new one needs a deliberate edit here."""
    found = {
        str(path.relative_to(ROOT)): path.read_text().count("mapInPandas(")
        for path in ROOT.rglob("*.py")
    }
    assert sum(found.values()) == 6, {k: n for k, n in found.items() if n}
