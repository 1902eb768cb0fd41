"""Incremental source maintenance (O22 diff apply, O24 predicate filter).

Semantics: /root/reference/src/difference.ts:75-221 — removeAll / remove-by-id
/ add (replaces same id) / per-feature update (newGeometry -> reconvert+wrap;
property add/remove/removeAll), applied to ALL antimeridian copies of an id;
returns the affected feature set (old + new rows) used for tile invalidation.

Spark shape (MERGE INTO semantics, not a list rewrite):
  * remove/replace  -> an `id IN (...)` literal predicate and its negation:
                       the key set is the caller's diff, already in driver
                       memory, so no key list is shipped or joined (a
                       broadcast of a driver-built relation is a Spark job
                       of its own every time a plan runs it);
  * add             -> driver-side convert+wrap of the (small, driver-provided)
                       diff payload, unioned in;
  * update          -> one filtered collect of the touched rows (bounded by
                       the diff size x wrap copies), sorted by okey and
                       recomputed driver-side, unioned back;
  * ordering        -> the reference appends adds/updates to the END of the
                       source array (difference.ts:104-131); we reproduce
                       source order with a monotonically increasing batch
                       prefix on `okey` so every downstream sort-by-okey sees
                       the same sequence.

The user predicate filter (O24, geojsonvt.ts:115-127) runs as a mapInArrow
kernel over the full source — the one place a user-supplied Python callable
touches every row — emitting only failing rows; removal is then an id
anti-join (all antimeridian copies of a failing id go together).
"""

from __future__ import annotations

import json
from typing import Optional

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import Options
from ..functions.convert import convert_geojson
from ..functions.deconvert import feature_to_geojson
from ..functions.wrap import wrap_features
from ..model import FEATURE_SCHEMA, feature_to_row, local_frame, row_to_feature


def _convert_batch(features: list, options: Options, batch: int) -> list:
    """convert+wrap a FeatureCollection of diff features into source rows with
    okey = [batch, position] (appended after every existing row)."""
    feats = convert_geojson({"type": "FeatureCollection", "features": features}, options)
    wrapped = wrap_features(feats, options)
    return [
        feature_to_row(f, 0, 0, 0, [batch, i])
        for i, (_wcopy, f) in enumerate(wrapped)
    ]


def _id_lit(v) -> str:
    return json.dumps(v)


def _id_in(keys):
    """`id IN keys` over JSON-encoded ids, where the key "null" matches a
    null id; never null itself, so its negation keeps null-id rows."""
    return F.coalesce(F.col("id"), F.lit("null")).isin(sorted(keys))


def _apply_property_updates(tags: Optional[dict], update: dict) -> dict:
    # difference.ts:181-201
    if update.get("removeAllProperties"):
        return {}
    props = dict(tags or {})
    for key in update.get("removeProperties") or []:
        props.pop(key, None)
    for kv in update.get("addOrUpdateProperties") or []:
        props[kv["key"]] = kv["value"]
    return props


def apply_source_diff(
    spark: SparkSession,
    source: DataFrame,
    diff: Optional[dict],
    options: Options,
    batch: int,
) -> tuple:
    """Returns (affected_df, new_source_df, next_batch, appended): appended
    is the number of rows the diff added to the source (adds plus updated
    rows). Every row that left the old source and every appended row is in
    the affected set, so it holds old_rows + 2 * appended - new_rows rows:
    a caller that counts the new source knows whether the diff was a no-op
    without probing `affected`. Runs at most one Spark job (the update's
    old-row collect)."""
    diff = diff or {}
    remove_ids = set(diff.get("remove") or [])
    add_map: dict = {}
    for f in diff.get("add") or []:
        if options.promote_id:
            key = (f.get("properties") or {}).get(options.promote_id)
        else:
            key = f.get("id")
        add_map[json.dumps(key)] = f  # JSON key: keeps str/num distinct, None allowed
    update_map: dict = {}
    for u in diff.get("update") or []:
        update_map[json.dumps(u["id"])] = u

    empty = local_frame(spark, [], FEATURE_SCHEMA)
    affected_parts: list = []
    appended = 0

    if diff.get("removeAll"):
        affected_parts.append(source)
        source = empty

    if remove_ids or add_map:
        keys = {_id_lit(k) for k in remove_ids} | set(add_map.keys())
        match = _id_in(keys)
        # both are no-ops when nothing matches: no emptiness job first
        affected_parts.append(source.where(match))
        source = source.where(~match)
        if add_map:
            rows = _convert_batch(list(add_map.values()), options, batch)
            batch += 1
            if rows:
                appended += len(rows)
                added = local_frame(spark, rows, FEATURE_SCHEMA)
                affected_parts.append(added)
                source = source.unionByName(added)

    if update_map:
        # a null id is never updated (difference.ts:121 finds no feature)
        umatch = _id_in(set(update_map) - {"null"})
        old_rows = sorted(source.where(umatch).collect(), key=lambda r: r.okey)
        by_id: dict = {}
        for r in old_rows:
            by_id.setdefault(r.id, []).append(r)

        touched_ids = []
        new_rows = []
        for id_key, update in update_map.items():  # diff order (difference.ts:119)
            olds = by_id.get(id_key)
            if not olds:
                continue  # wrong id: no-op (difference.ts:121)
            touched_ids.append(id_key)
            old_feats = [row_to_feature(r.asDict()) for r in olds]
            change_geometry = bool(update.get("newGeometry"))
            change_props = bool(
                update.get("removeAllProperties")
                or update.get("removeProperties")
                or update.get("addOrUpdateProperties")
            )
            if change_geometry:
                f0 = old_feats[0]
                gj = {
                    "type": "Feature",
                    "id": f0["id"],
                    "geometry": update["newGeometry"],
                    "properties": _apply_property_updates(f0["tags"], update)
                    if change_props
                    else f0["tags"],
                }
                feats = convert_geojson(
                    {"type": "FeatureCollection", "features": [gj]}, options
                )
                new_rows.extend(f for _w, f in wrap_features(feats, options))
            elif change_props:
                for f in old_feats:
                    nf = dict(f)
                    nf["tags"] = _apply_property_updates(f["tags"], update)
                    new_rows.append(nf)
            else:
                new_rows.extend(old_feats)

        if touched_ids:
            source = source.where(~_id_in(touched_ids))
            appended += len(new_rows)
            rows = [
                feature_to_row(f, 0, 0, 0, [batch, i])
                for i, f in enumerate(new_rows)
            ]
            batch += 1
            updated_df = local_frame(spark, rows, FEATURE_SCHEMA) if rows else None
            old_rows_df = local_frame(
                spark, [r.asDict() for r in old_rows], FEATURE_SCHEMA
            )
            affected_parts.append(old_rows_df)
            if updated_df is not None:
                affected_parts.append(updated_df)
                source = source.unionByName(updated_df)

    affected = empty
    for p in affected_parts:
        affected = affected.unionByName(p)
    return affected, source, batch, appended


def filter_update(
    source: DataFrame, affected: DataFrame, predicate
) -> tuple:
    """O24 (geojsonvt.ts:115-127): drop id-bearing features failing a user
    GeoJSON predicate; failing rows join the affected set."""

    def kernel(batches):
        for batch in batches:
            failing = pa.array([
                row["id"] is not None
                and not predicate(feature_to_geojson(row_to_feature(row)))
                for row in batch.to_pylist()
            ], pa.bool_())
            out = batch.filter(failing)
            if out.num_rows:
                yield out

    removed = source.select(*FEATURE_SCHEMA.names).mapInArrow(kernel, FEATURE_SCHEMA)
    removed = removed.localCheckpoint(eager=True)
    # no emptiness probe: an empty `removed` makes the anti-join and the
    # union no-ops, and update_data finds a no-op from its row count. No
    # broadcast hint: the failing ids can be the whole source
    removed_ids = removed.select("id").distinct()
    source = source.join(removed_ids, ["id"], "left_anti")
    return affected.unionByName(removed), source
