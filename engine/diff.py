"""First-order change generation — the rebuild of ChangeUtils.generateFirstOrderChanges
(/root/reference/src/main/scala/com/michaelsteffen/osm/changes/ChangeUtils.scala:21-55)
as pure Column expressions over lag() windows (SURVEY.md §2.3 A2, §2.6).

Semantics preserved exactly (validated against hand-computed goldens in
tests/test_diff.py), including the reference's quirks:

- versions are diffed against the previous version, seeded with an "empty" prior
  (no tags, invisible, no coords, no children — ObjectVersion.empty);
- FEATURE_CREATE (0): (¬feature(prev) ∨ ¬visible(prev)) ∧ feature(curr) ∧ visible(curr);
  tagsBefore = {}, tagChanges = curr.tags; does NOT propagate;
- FEATURE_DELETE (1): inverse transition; recorded against the PRIOR version —
  tagsBefore/bbox/timestamp/changeset all come from prev (ChangeUtils.scala:33-38 +
  Change.scala:20-29); does NOT propagate;
- otherwise the six diff emitters run (TAG_ADD/TAG_DELETE/TAG_CHANGE over map key
  sets, NODE_MOVE for packed-node ids on (lat,lon) change, NODE/MEMBER_ADD/REMOVE
  as child-set diffs both directions); NODE_MOVE and the child-set changes
  "propagate to self" (ChangeUtils.scala:146-184, SURVEY.md J4);
- a non-feature current version keeps only the propagate arm
  (ChangeUtils.scala:47-49);
- nonTagChange rows carry tagsBefore = curr.tags and empty tagChanges
  (Change.scala:18-25).

Documented deviations (SURVEY.md §2.9): versions are ordered by
(timestamp, version) not timestamp alone (Q4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import cells, schema

def _empty_tags() -> Column:
    return F.create_map().cast(T.MapType(T.StringType(), T.StringType(), True))


def _empty_children() -> Column:
    return F.array().cast(T.ArrayType(schema.MEMBER_REF, containsNull=False))


def is_feature(tags: Column) -> Column:
    """ObjectVersion.isFeature (ObjectVersion.scala:18): tags non-empty and not
    exactly {type -> multipolygon}."""
    t = F.coalesce(tags, _empty_tags())
    return ~(
        (F.size(t) == 0)
        | (
            (F.size(t) == 1)
            & F.element_at(t, "type").eqNullSafe(F.lit("multipolygon"))
        )
    )


def has_geometry(tags: Column, type_col: Column) -> Column:
    """ObjectVersion.hasGeometry (ObjectVersion.scala:20-26): feature AND
    (node/way always; relation only when type=multipolygon)."""
    t = F.coalesce(tags, _empty_tags())
    return is_feature(tags) & (
        type_col.isin("node", "way")
        | (
            (type_col == "relation")
            & F.element_at(t, "type").eqNullSafe(F.lit("multipolygon"))
        )
    )


def _point_bbox(lon: Column, lat: Column) -> Column:
    """Change.lonLatToBbox (Change.scala:52-55): degenerate bbox, null if no coords."""
    return F.when(
        lon.isNotNull() & lat.isNotNull(),
        F.struct(
            F.struct(lon.alias("lon"), lat.alias("lat")).alias("min"),
            F.struct(lon.alias("lon"), lat.alias("lat")).alias("max"),
        ),
    )


_CHANGE_STRUCT_FIELDS = (
    "changeType int, count int, tagsBefore map<string,string>, "
    "tagChanges map<string,string>, bbox struct<min:struct<lon:double,lat:double>,"
    "max:struct<lon:double,lat:double>>, timestamp timestamp, changeset bigint, "
    "save boolean, propagate boolean"
)


def first_order_changes(objs: DataFrame) -> DataFrame:
    """objs: OBJECT_VERSIONS-shaped DataFrame -> change rows with `save` and
    `propagate` flags (ChangeResults' two arms, ChangeResults.scala:3-11).

    One window pass (shuffle on id), everything else narrow Column expressions —
    Catalyst fuses the per-change-type emitters into one codegen stage; no Python
    runs per row.
    """
    w = Window.partitionBy("id").orderBy("timestamp", "version")
    tags = F.coalesce(F.col("tags"), _empty_tags())
    children = F.array_distinct(F.coalesce(F.col("children"), _empty_children()))
    prev_tags = F.coalesce(F.lag("tags").over(w), _empty_tags())
    d = (
        objs.withColumn("_tags", tags)
        .withColumn("_children", children)
        .withColumn("_prev_tags", prev_tags)
        .withColumn("_prev_visible", F.coalesce(F.lag("visible").over(w), F.lit(False)))
        .withColumn("_prev_lon", F.lag("lon").over(w))
        .withColumn("_prev_lat", F.lag("lat").over(w))
        .withColumn(
            "_prev_children",
            F.array_distinct(
                F.coalesce(F.lag("children").over(w), _empty_children())
            ),
        )
        .withColumn("_prev_ts", F.lag("timestamp").over(w))
        .withColumn("_prev_changeset", F.lag("changeset").over(w))
        .withColumn("_is_first", F.lag("version").over(w).isNull())
    )

    curr_feat = is_feature(F.col("_tags"))
    prev_feat = is_feature(F.col("_prev_tags"))
    visible = F.col("visible")
    prev_visible = F.col("_prev_visible")

    create_cond = (~prev_feat | ~prev_visible) & (curr_feat & visible)
    delete_cond = (prev_feat & prev_visible) & (~curr_feat | ~visible)
    diff_cond = ~create_cond & ~delete_cond

    def change(ctype: int, count: Column, tags_before: Column, tag_changes: Column,
               bbox: Column, ts: Column, cs: Column, save: Column, prop: Column,
               cond: Column) -> Column:
        return F.when(
            cond,
            F.struct(
                F.lit(ctype).alias("changeType"),
                count.cast("int").alias("count"),
                tags_before.alias("tagsBefore"),
                tag_changes.alias("tagChanges"),
                bbox.alias("bbox"),
                ts.alias("timestamp"),
                cs.cast("long").alias("changeset"),
                save.alias("save"),
                prop.alias("propagate"),
            ),
        )

    curr_bbox = _point_bbox(F.col("lon"), F.col("lat"))
    prev_bbox = _point_bbox(F.col("_prev_lon"), F.col("_prev_lat"))

    # tag-set diffs (ChangeUtils.scala:120-143) via map/array HOFs
    added_keys = F.array_except(F.map_keys("_tags"), F.map_keys("_prev_tags"))
    deleted_keys = F.array_except(F.map_keys("_prev_tags"), F.map_keys("_tags"))
    changed_keys = F.filter(
        F.map_keys("_tags"),
        lambda k: F.array_contains(F.map_keys("_prev_tags"), k)
        & ~F.element_at(F.col("_prev_tags"), k).eqNullSafe(
            F.element_at(F.col("_tags"), k)
        ),
    )
    added_slice = F.map_filter("_tags", lambda k, v: F.array_contains(added_keys, k))
    deleted_slice = F.map_filter(
        "_prev_tags", lambda k, v: F.array_contains(deleted_keys, k)
    )
    changed_slice = F.map_filter(
        "_tags", lambda k, v: F.array_contains(changed_keys, k)
    )

    is_node_id = cells.is_node(F.col("id"))
    is_way_id = cells.is_way(F.col("id"))
    is_wr_id = is_way_id | cells.is_relation(F.col("id"))
    moved = is_node_id & ~(
        F.col("lat").eqNullSafe(F.col("_prev_lat"))
        & F.col("lon").eqNullSafe(F.col("_prev_lon"))
    )
    n_added = F.size(F.array_except("_children", "_prev_children"))
    n_removed = F.size(F.array_except("_prev_children", "_children"))

    ts, cs = F.col("timestamp"), F.col("changeset")
    candidates = F.array(
        change(schema.FEATURE_CREATE, F.lit(1), _empty_tags(), F.col("_tags"),
               curr_bbox, ts, cs, F.lit(True), F.lit(False), create_cond),
        change(schema.FEATURE_DELETE, F.lit(1), F.col("_prev_tags"), _empty_tags(),
               prev_bbox, F.col("_prev_ts"), F.col("_prev_changeset"),
               F.lit(True), F.lit(False), delete_cond),
        change(schema.TAG_ADD, F.size(added_keys), F.col("_prev_tags"), added_slice,
               curr_bbox, ts, cs, curr_feat, F.lit(False),
               diff_cond & (F.size(added_keys) > 0)),
        change(schema.TAG_DELETE, F.size(deleted_keys), F.col("_prev_tags"),
               deleted_slice, curr_bbox, ts, cs, curr_feat, F.lit(False),
               diff_cond & (F.size(deleted_keys) > 0)),
        change(schema.TAG_CHANGE, F.size(changed_keys), F.col("_prev_tags"),
               changed_slice, curr_bbox, ts, cs, curr_feat, F.lit(False),
               diff_cond & (F.size(changed_keys) > 0)),
        change(schema.NODE_MOVE, F.lit(1), F.col("_tags"), _empty_tags(),
               curr_bbox, ts, cs, curr_feat, F.lit(True), diff_cond & moved),
        change(schema.NODE_ADD, n_added, F.col("_tags"), _empty_tags(),
               curr_bbox, ts, cs, curr_feat, F.lit(True),
               diff_cond & is_way_id & (n_added > 0)),
        change(schema.MEMBER_ADD, n_added, F.col("_tags"), _empty_tags(),
               curr_bbox, ts, cs, curr_feat, F.lit(True),
               diff_cond & ~is_way_id & is_wr_id & (n_added > 0)),
        change(schema.NODE_REMOVE, n_removed, F.col("_tags"), _empty_tags(),
               curr_bbox, ts, cs, curr_feat, F.lit(True),
               diff_cond & is_way_id & (n_removed > 0)),
        change(schema.MEMBER_REMOVE, n_removed, F.col("_tags"), _empty_tags(),
               curr_bbox, ts, cs, curr_feat, F.lit(True),
               diff_cond & ~is_way_id & is_wr_id & (n_removed > 0)),
    )

    exploded = (
        d.select(
            F.col("id").alias("featureID"),
            F.explode(F.filter(candidates, lambda c: c.isNotNull())).alias("c"),
        )
        .select(
            "featureID",
            F.col("c.changeType").alias("changeType"),
            F.col("c.count").alias("count"),
            F.col("c.tagsBefore").alias("tagsBefore"),
            F.col("c.tagChanges").alias("tagChanges"),
            F.col("c.bbox").alias("bbox"),
            F.col("c.timestamp").alias("timestamp"),
            F.col("c.changeset").alias("changeset"),
            F.lit(0).alias("depth"),
            F.col("c.save").alias("save"),
            F.col("c.propagate").alias("propagate"),
        )
    )
    return exploded


def changes_to_save(changes: DataFrame) -> DataFrame:
    """The save arm (depth-0 Change rows, CHANGES schema order)."""
    return changes.filter(F.col("save")).drop("save", "propagate")


def changes_to_propagate(changes: DataFrame) -> DataFrame:
    """The propagate arm, seeded to self (parentID := featureID, J4 /
    ChangeUtils.scala:146-156)."""
    return (
        changes.filter(F.col("propagate"))
        .drop("save", "propagate")
        .withColumn("parentID", F.col("featureID"))
    )
