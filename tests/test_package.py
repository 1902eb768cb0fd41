"""Package import surface: importing a kernel module (what a fresh Python
worker does when it unpickles a pyramid or grid kernel) loads neither the
engine nor pandas, and every public name still resolves on first access."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import sys
import geojson_vt_spark.plans.pyramid
heavy = [m for m in ("pandas", "geojson_vt_spark.operators.engine") if m in sys.modules]
assert not heavy, heavy
import geojson_vt_spark as g
from geojson_vt_spark import *  # noqa: F403
for name in g.__all__:
    assert getattr(g, name) is not None, name
assert g.SuperclusterSpark is g.ClusterTileIndexSpark
assert g.GeoJSONVTSpark.__module__ == "geojson_vt_spark.operators.engine"
try:
    g.not_a_name
except AttributeError:
    pass
else:
    raise AssertionError("unknown names must raise AttributeError")
"""


def test_kernel_import_is_light_and_exports_resolve():
    subprocess.run([sys.executable, "-c", PROBE], cwd=ROOT, check=True)
