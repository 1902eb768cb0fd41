"""Inventory of the package's environment knobs. Engines run one production
path; tuning constants live in their modules (tests monkeypatch them). A new
SPARK_GRAFT_* variable therefore needs a deliberate edit here."""

import pathlib
import re

import geojson_vt_spark

ALLOWED = {"TABLE_FORMAT", "CELL_SCHEME", "MEDIA_FAKE"}


def test_env_knob_inventory():
    root = pathlib.Path(geojson_vt_spark.__file__).parent
    found = {
        m
        for path in root.rglob("*.py")
        for m in re.findall(r"SPARK_GRAFT_([A-Z_]+)", path.read_text())
    }
    assert found == ALLOWED, sorted(found ^ ALLOWED)
