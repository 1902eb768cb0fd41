"""Inventory of the package's environment knobs and engine crossings.
Engines run one production path; tuning constants live in their modules
(tests monkeypatch them). A new SPARK_GRAFT_* variable therefore needs a
deliberate edit here, and so does a pandas crossing: batch operators cross
into Python through Arrow only."""

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
    """The pyramid and grid engines, like every batch kernel, take and
    return Arrow batches: pandas is imported, and crossed into with
    applyInPandas, only by the stateful streaming dedup
    (applyInPandasWithState has no Arrow twin)."""
    for banned in ("import pandas", "applyInPandas"):
        found = {
            str(path.relative_to(ROOT))
            for path in ROOT.rglob("*.py")
            if banned in path.read_text()
        }
        assert found == {"streaming/dedup_stream.py"}, (banned, found)


def test_driver_built_frames_go_through_local_frame():
    """`createDataFrame(<list>)` scans through Python workers; every
    driver-built frame goes through `model.local_frame`, the only caller."""
    found = {
        str(path.relative_to(ROOT)): path.read_text().count("createDataFrame(")
        for path in ROOT.rglob("*.py")
    }
    assert {rel: n for rel, n in found.items() if n} == {"model.py": 1}


def test_data_pipeline_operators_have_no_engine_selectors():
    """One production path per hygiene/training/analytics operator: no
    public function lets its caller pick an engine, a join strategy, a loop
    budget or a fallback, and the removed second engines and unset options
    stay gone."""
    import inspect

    from geojson_vt_spark import analytics, hygiene, training

    banned = {
        "engine", "algorithm", "hits_join", "boiler_cap", "n_shards",
        "round_budget", "vocab_broadcast", "reroute",
    }
    for mod in (hygiene, training, analytics):
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if name.startswith("_") or fn.__module__ != mod.__name__:
                continue
            params = set(inspect.signature(fn).parameters)
            assert not params & banned, (mod.__name__, name, params & banned)
    assert list(inspect.signature(training.q_simhash_dedup).parameters) == [
        "spark", "sf_dir",
    ]
    assert "bucket_cap" not in inspect.signature(training.ann_join).parameters
    assert "skip_existing" not in inspect.signature(
        training.ivf_index_append
    ).parameters
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
    """No mapInPandas site remains: every batch kernel is Arrow in, Arrow
    out; a new pandas crossing needs a deliberate edit here."""
    found = {
        str(path.relative_to(ROOT)): path.read_text().count("mapInPandas(")
        for path in ROOT.rglob("*.py")
    }
    assert sum(found.values()) == 0, {k: n for k, n in found.items() if n}


def test_level_snapshots_have_one_step():
    """Each pyramid level is one union written by one snapshot job on the
    caller's thread: no thread pool or background submit in the plans, and
    `sources/table_format.snapshot` is the package's only snapshot step."""
    for path in (ROOT / "plans").rglob("*.py"):
        text = path.read_text()
        for banned in ("ThreadPoolExecutor", "inheritable_thread_target", ".submit("):
            assert banned not in text, (path.name, banned)
    found = {
        str(path.relative_to(ROOT))
        for path in ROOT.rglob("*.py")
        if "def _checkpoint" in path.read_text()
    }
    assert not found, found
    assert "def snapshot(" in (ROOT / "sources" / "table_format.py").read_text()
