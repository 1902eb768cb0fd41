"""Spark row model for internal features and tile features.

A feature row is flat + Arrow-friendly: one `coords` array<double> (stride-3
[x,y,m] across all rings — the reference's flat-typed-array trick,
/root/reference/src/definitions.ts:81-83, mapped to columnar form), ring
offsets/metadata as parallel primitive arrays, and bbox as plain double
columns so Catalyst can push trivial accept/reject predicates down to the
scan without touching Python.

`okey` is the stable ordering key: [wcopy, fid, slice_idx...]. Tile feature
order in the reference is input order through wrap -> clip -> assembly; every
stage here preserves/extends okey and consumers sort by it.
"""

from __future__ import annotations

import json
from typing import Any, Iterable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .functions.convert import convert_geojson
from .functions.feature import make_ring
from .functions.wrap import wrap_features

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("z", T.IntegerType(), False),
        T.StructField("x", T.IntegerType(), False),
        T.StructField("y", T.IntegerType(), False),
        T.StructField("okey", T.ArrayType(T.LongType(), False), False),
        T.StructField("id", T.StringType(), True),  # JSON-encoded (keeps str/num type)
        T.StructField("ftype", T.IntegerType(), False),
        T.StructField("tags", T.StringType(), True),  # JSON dict or null
        T.StructField("coords", T.ArrayType(T.DoubleType(), False), False),
        T.StructField("rlens", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("rpoly", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("rsize", T.ArrayType(T.DoubleType(), False), False),
        T.StructField("rstart", T.ArrayType(T.DoubleType(), False), False),
        T.StructField("rend", T.ArrayType(T.DoubleType(), False), False),
        T.StructField("minx", T.DoubleType(), False),
        T.StructField("miny", T.DoubleType(), False),
        T.StructField("maxx", T.DoubleType(), False),
        T.StructField("maxy", T.DoubleType(), False),
    ]
)

TILE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("z", T.IntegerType(), False),
        T.StructField("x", T.IntegerType(), False),
        T.StructField("y", T.IntegerType(), False),
        T.StructField("okey", T.ArrayType(T.LongType(), False), False),
        T.StructField("tf_type", T.IntegerType(), True),  # null = feature dropped
        T.StructField("tf_id", T.StringType(), True),  # JSON-encoded
        T.StructField("tf_tags", T.StringType(), True),  # JSON; null vs "{}" distinct
        T.StructField("tf_geom", T.StringType(), True),  # JSON int coords
        T.StructField("npoints", T.LongType(), False),
        T.StructField("nsimplified", T.LongType(), False),
        T.StructField("minx", T.DoubleType(), False),
        T.StructField("miny", T.DoubleType(), False),
        T.StructField("maxx", T.DoubleType(), False),
        T.StructField("maxy", T.DoubleType(), False),
    ]
)

REGISTRY_SCHEMA = T.StructType(
    [
        T.StructField("z", T.IntegerType(), False),
        T.StructField("x", T.IntegerType(), False),
        T.StructField("y", T.IntegerType(), False),
        T.StructField("num_features", T.LongType(), False),
        T.StructField("num_points", T.LongType(), False),
        T.StructField("num_simplified", T.LongType(), False),
        T.StructField("has_source", T.BooleanType(), False),
    ]
)

# The one tile-store row layout (reference: one tile map, tile-index.ts:12,88,
# each entry holding a tile's features, counters and retained source). Every
# row carries a `kind`; the columns of the other kinds are null. The build's
# kernels emit it, the engine's store holds it, the on-disk store is its
# kinds 1 and 3. Kind 0 (next-frontier features) lives only inside a build.
KIND_FRONTIER, KIND_TILE, KIND_SOURCE, KIND_REGISTRY = 0, 1, 2, 3

_STORE_FIELDS = TILE_FEATURE_SCHEMA.fields + FEATURE_SCHEMA.fields + REGISTRY_SCHEMA.fields
STORE_SCHEMA = T.StructType(
    [T.StructField(n, t) for n, t in {f.name: f.dataType for f in _STORE_FIELDS}.items()]
    + [T.StructField("kind", T.IntegerType())]
)


def num_points_col():
    """A feature row's vertex count, SUM(rlens), computed JVM-side. Summed
    over a tile's rows it is the stop rule's numPoints, identical to the
    assembly's npoints counter."""
    return F.aggregate("rlens", F.lit(0).cast("long"), lambda a, v: a + v.cast("long"))


def tile_key(z: int, x: int, y: int) -> int:
    """(z, x, y) packed into one long; collision-free for 0 <= x, y < 2^z
    and z <= 24."""
    return (z << 50) | (x << 25) | y


def tile_key_col():
    """`tile_key` of a frame's z, x, y columns: a key-set literal predicate
    (`tile_key_col().isin(...)`) filters in place, with no join job."""
    return (
        F.shiftleft(F.col("z").cast("long"), 50)
        + F.shiftleft(F.col("x").cast("long"), 25)
        + F.col("y").cast("long")
    )


def store_rows(df: DataFrame, kind: int) -> DataFrame:
    """`df`'s rows as STORE_SCHEMA rows of one kind (absent columns null).
    A literal kind lets Catalyst fold a kind filter over the branch away.
    List columns keep their type: read back from parquet their elements are
    nullable, which a cast to the schema's non-null elements rejects."""
    have = set(df.columns)

    def col(f):
        if f.name == "kind":
            return F.lit(kind).cast(f.dataType)
        if f.name not in have:
            return F.lit(None).cast(f.dataType)
        c = F.col(f.name)
        return c if isinstance(f.dataType, T.ArrayType) else c.cast(f.dataType)

    return df.select(*(col(f).alias(f.name) for f in STORE_SCHEMA.fields))


def kind_rows(store: DataFrame, kind: int, schema: T.StructType) -> DataFrame:
    """The rows of one kind of a STORE_SCHEMA frame, as `schema` columns."""
    return store.where(F.col("kind") == kind).select(*schema.names)


def local_frame(
    spark: SparkSession, rows: Iterable, schema: T.StructType | str
) -> DataFrame:
    """A driver-built frame as a JVM-local relation.

    `rows` are tuples in schema order or dicts (list columns may hold numpy
    arrays); `schema` is a StructType or a DDL string. The rows become one
    Arrow table that Spark reads on the JVM side: a LocalRelation, or an RDD
    of Arrow batches above spark.sql.execution.arrow.localRelationThreshold.
    `spark.createDataFrame` over a Python list instead builds a LogicalRDD
    on a PythonRDD, so every later scan of the frame starts Python workers.
    Every driver-built frame in the package goes through here.
    """
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    rows = list(rows)
    if rows and not isinstance(rows[0], dict):
        rows = [dict(zip(schema.names, r)) for r in rows]
    return spark.createDataFrame(rows_to_arrow(rows, schema), schema)


def rows_to_arrow(rows: list, schema: T.StructType) -> pa.Table:
    """Dict rows (list columns may hold numpy arrays) as one Arrow table of
    `schema`: the driver's local frames and the kernels that build Python
    rows (`mapInArrow`, yielding its batches) share this one conversion."""
    return pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))


def geojson_to_feature_rows(data: dict, options, prefix: tuple = ()) -> list:
    """Convert (O1-O6) + wrap (O7) of one GeoJSON object into FEATURE_SCHEMA
    rows at z0, okey = [wcopy, *prefix, i] with i the position in the
    wrapped list. Every GeoJSON ingest goes through here: the engine's
    in-memory input (prefix ()), the documents parse kernel ((doc_seq,
    offset)) and per-event features ((event_id,))."""
    wrapped = wrap_features(convert_geojson(data, options), options)
    return [
        feature_to_row(f, 0, 0, 0, [wcopy, *prefix, i])
        for i, (wcopy, f) in enumerate(wrapped)
    ]


def feature_to_row(feature: dict, z: int, x: int, y: int, okey: list) -> dict:
    rings = feature["rings"]
    coords = (
        np.concatenate([r["pts"] for r in rings]) if rings else np.empty(0, np.float64)
    )
    return {
        "z": z,
        "x": x,
        "y": y,
        "okey": list(okey),
        "id": None if feature["id"] is None else json.dumps(feature["id"]),
        "ftype": feature["type"],
        "tags": None if feature["tags"] is None else json.dumps(feature["tags"]),
        "coords": coords,
        "rlens": np.array([len(r["pts"]) // 3 for r in rings], dtype=np.int32),
        "rpoly": np.array([r["poly"] for r in rings], dtype=np.int32),
        # absent start/end (point rings) encode as 0.0 — nothing downstream
        # reads them for points, and NaN would become Arrow null in list cols
        "rsize": np.array([r["size"] for r in rings], dtype=np.float64),
        "rstart": np.array(
            [0.0 if r["start"] is None else r["start"] for r in rings], np.float64
        ),
        "rend": np.array(
            [0.0 if r["end"] is None else r["end"] for r in rings], np.float64
        ),
        "minx": feature["minx"],
        "miny": feature["miny"],
        "maxx": feature["maxx"],
        "maxy": feature["maxy"],
    }


def row_to_feature(row: dict) -> dict:
    """Inverse of feature_to_row; `row` is a plain dict of column values."""
    coords = np.asarray(row["coords"], dtype=np.float64)
    rlens = np.asarray(row["rlens"], dtype=np.int64)
    rpoly = row["rpoly"]
    rsize = row["rsize"]
    rstart = row["rstart"]
    rend = row["rend"]
    rings = []
    off = 0
    for i, ln in enumerate(rlens):
        n = int(ln) * 3
        rings.append(
            make_ring(
                coords[off : off + n],
                int(rpoly[i]),
                float(rsize[i]),
                float(rstart[i]),
                float(rend[i]),
            )
        )
        off += n
    fid = row["id"]
    tags = row["tags"]
    # bbox comes straight from the row (computed at feature creation and
    # carried as plain columns) — no recompute on the hot path
    return {
        "id": None if fid is None else json.loads(fid),
        "type": int(row["ftype"]),
        "rings": rings,
        "tags": None if tags is None else json.loads(tags),
        "minx": row["minx"],
        "miny": row["miny"],
        "maxx": row["maxx"],
        "maxy": row["maxy"],
    }


class _JsonEncoder(json.JSONEncoder):
    def default(self, o: Any):
        if isinstance(o, np.ndarray):
            return o.tolist()
        if isinstance(o, (np.integer,)):
            return int(o)
        if isinstance(o, (np.floating,)):
            return float(o)
        return super().default(o)


def tile_feature_to_json(tf: dict) -> str:
    return json.dumps(tf["geometry"], cls=_JsonEncoder, separators=(",", ":"))


def tile_feature_from_row(row: dict) -> dict:
    tf = {
        "geometry": json.loads(row["tf_geom"]),
        "type": int(row["tf_type"]),
        "tags": None if row["tf_tags"] is None else json.loads(row["tf_tags"]),
    }
    if row["tf_id"] is not None:
        tf["id"] = json.loads(row["tf_id"])
    return tf
