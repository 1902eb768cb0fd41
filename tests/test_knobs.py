"""Inventory of the package's environment knobs and engine crossings.
Engines run one production path; tuning constants live in their modules
(tests monkeypatch them). A new SPARK_GRAFT_* variable therefore needs a
deliberate edit here, and so does a pandas crossing in an Arrow-native
engine."""

import pathlib
import re

import geojson_vt_spark

ALLOWED = {"TABLE_FORMAT", "CELL_SCHEME", "MEDIA_FAKE"}
ROOT = pathlib.Path(geojson_vt_spark.__file__).parent


def test_env_knob_inventory():
    found = {
        m
        for path in ROOT.rglob("*.py")
        for m in re.findall(r"SPARK_GRAFT_([A-Z_]+)", path.read_text())
    }
    assert found == ALLOWED, sorted(found ^ ALLOWED)


def test_pyramid_and_grid_engines_have_no_pandas_crossing():
    """The pyramid and grid-cluster kernels take and return Arrow batches;
    a pandas crossing must not creep back into either engine."""
    for rel in ("plans/pyramid.py", "cluster/grid.py"):
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
