"""Canonical deserialization: snapshot struct -> flat per-entity frames.

Re-expresses lib/dionysus/consumer/deserializer.rb as schema-driven
DataFrame projections (no per-row interpretation — the JSON shape
dispatch the Ruby code does at runtime happens here at *plan* time from
the declared StructType):

  D2  reserved-attribute remap   id/created_at/updated_at/canceled_at ->
                                 synced_* (deserializer.rb:41-52,149;
                                 names configurable, consumer/config.rb:43-61)
  D3  link flattening            links.x scalar -> synced_x_id;
                                 array -> synced_{singular}_ids;
                                 {type,id} -> synced_x_id + synced_x_type
                                 (deserializer.rb:33-39,125-135)
  D4  relationship extraction    nested struct -> has_one child frame,
                                 array<struct> -> has_many child frames,
                                 recursing (deserializer.rb:54-70,219-224)
  D5  polymorphic routing        to-one {type,id} links route the child
                                 entity by type (deserializer.rb:173-179,227-229)
  D6  attribute mapping          remote->local rename per entity
                                 (consumer/config.rb:71-81)
  D7  assignable-column filter   project only declared target columns,
                                 archiving the full payload to synced_data
                                 (synchronizable_model.rb:28-38; README.md:930-983)

Each child entity costs one ``explode`` (has_many) or struct projection
(has_one) — Catalyst prunes unreached branches, so a consumer that only
persists the parent reads only parent columns from the wire batch.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    StructType,
)

from ..functions.inflect import singularize, underscore

RESERVED = ("id", "created_at", "updated_at", "canceled_at")


@dataclass
class DeserializerConfig:
    """Mirrors Dionysus::Consumer::Config's knobs (consumer/config.rb)."""

    # D2 target names (config.rb:43-61 synced_*_timestamp_attribute etc.)
    synced_id: str = "synced_id"
    synced_created_at: str = "synced_created_at"
    synced_updated_at: str = "synced_updated_at"
    synced_canceled_at: str = "synced_canceled_at"
    synced_data: str = "synced_data"
    # D6 per-entity remote->local renames (config.rb:71-81)
    attribute_mappers: dict[str, dict[str, str]] = field(default_factory=dict)
    # D7 per-entity assignable columns; None = keep everything
    target_columns: dict[str, list[str]] | None = None
    # singularization overrides for to-many link names
    singular_overrides: dict[str, str] = field(default_factory=dict)

    def reserved_map(self) -> dict[str, str]:
        return {
            "id": self.synced_id,
            "created_at": self.synced_created_at,
            "updated_at": self.synced_updated_at,
            "canceled_at": self.synced_canceled_at,
        }


def _is_polymorphic(dt: DataType) -> bool:
    return isinstance(dt, StructType) and {f.name for f in dt.fields} >= {"type", "id"} and len(dt.fields) <= 2


def _link_columns(
    record: Column, links_type: StructType, cfg: DeserializerConfig
) -> list[tuple[str, Column]]:
    """D3: shape-dispatched projections of the links struct."""
    cols: list[tuple[str, Column]] = []
    for f_ in links_type.fields:
        name, dt = f_.name, f_.dataType
        base = record.getField("links").getField(name)
        if isinstance(dt, ArrayType):
            out = f"synced_{singularize(name, cfg.singular_overrides)}_ids"
            cols.append((out, base))
        elif _is_polymorphic(dt):
            cols.append((f"synced_{name}_id", base.getField("id")))
            cols.append((f"synced_{name}_type", base.getField("type")))
        else:
            cols.append((f"synced_{name}_id", base))
    return cols


def _timestampify(col: Column, dt: DataType) -> Column:
    """Reference payloads serialize timestamps as strings
    ("2020-01-01 12:00:00", deserializer_spec.rb:29-31) and the consumer
    compares them as timestamps (synchronizable_model.rb:24-26)."""
    from pyspark.sql.types import StringType

    return col.cast("timestamp") if isinstance(dt, StringType) else col


def canonical_columns(
    record: Column,
    schema: StructType,
    entity: str,
    cfg: DeserializerConfig,
    sideload_names: set[str],
) -> list[Column]:
    """Flat projection list for one snapshot struct (D2+D3+D6+D7)."""
    cols: list[tuple[str, Column]] = []
    reserved = cfg.reserved_map()
    mapper = cfg.attribute_mappers.get(entity, {})
    for f_ in schema.fields:
        name, dt = f_.name, f_.dataType
        if name in sideload_names:
            continue  # extracted as child frames (D4)
        if name == "links" and isinstance(dt, StructType):
            cols.extend(_link_columns(record, dt, cfg))
            continue
        src = record.getField(name)
        if name in reserved:
            out = reserved[name]
            src = _timestampify(src, dt) if name != "id" else src
        else:
            out = mapper.get(name, name)  # D6
        cols.append((out, src))
    # D7 payload archive: the full snapshot, exactly as received
    cols.append((cfg.synced_data, F.to_json(record)))

    if cfg.target_columns and entity in cfg.target_columns:
        allowed = set(cfg.target_columns[entity]) | {cfg.synced_data}
        cols = [(n, c) for n, c in cols if n in allowed]
    return [c.alias(n) for n, c in cols]


def _sideload_fields(schema: StructType) -> dict[str, DataType]:
    """Fields holding nested snapshots: struct (has_one) or array<struct>
    (has_many). The links struct itself is excluded."""
    out: dict[str, DataType] = {}
    for f_ in schema.fields:
        if f_.name == "links":
            continue
        if isinstance(f_.dataType, StructType) and not _is_polymorphic(f_.dataType):
            out[f_.name] = f_.dataType
        elif isinstance(f_.dataType, ArrayType) and isinstance(
            f_.dataType.elementType, StructType
        ):
            out[f_.name] = f_.dataType
    return out


@dataclass
class DeserializedEntity:
    entity: str
    relationship: str  # "root" | "has_one" | "has_many"
    parent_entity: str | None
    frame: DataFrame
    # has_many only: ``__parent_id`` of every parent row whose list is
    # present — an empty list included, a NULL list not — i.e. the
    # parents whose stored child set J4 reconciles
    parent_ids: DataFrame | None = None


def deserialize(
    df: DataFrame,
    schema: StructType,
    entity: str,
    cfg: DeserializerConfig | None = None,
    record_col: str = "record",
    polymorphic_types: dict[str, list[str]] | None = None,
) -> list[DeserializedEntity]:
    """D1-D7 composed: one typed-snapshot DataFrame in, the canonical
    per-entity frames out (parent first, then children breadth-first —
    the persist order the reference uses, persistor.rb:102-151).

    ``polymorphic_types`` routes has_one sideloads whose link is
    {type,id}-shaped: ``{"bookable": ["Property", "Villa"]}`` produces
    one child frame per concrete type (D5), named ``underscore(type)``.
    """
    cfg = cfg or DeserializerConfig()
    polymorphic_types = polymorphic_types or {}
    out: list[DeserializedEntity] = []
    record = F.col(record_col)
    sideloads = _sideload_fields(schema)

    passthrough = [F.col("__parent_id")] if "__parent_id" in df.columns else []
    parent = df.select(
        *passthrough, *canonical_columns(record, schema, entity, cfg, set(sideloads))
    )
    out.append(DeserializedEntity(entity, "root", None, parent))

    for name, dt in sideloads.items():
        if isinstance(dt, ArrayType):
            child_entity = singularize(name, cfg.singular_overrides)
            child_schema: StructType = dt.elementType  # type: ignore[assignment]
            parent_ids = df.filter(record.getField(name).isNotNull()).select(
                record.getField("id").alias("__parent_id")
            )
            child_df = df.select(
                record.getField("id").alias("__parent_id"),
                F.explode_outer(record.getField(name)).alias(record_col),
            ).filter(F.col(record_col).isNotNull())
            for sub in deserialize(
                child_df, child_schema, child_entity, cfg, record_col, polymorphic_types
            ):
                out.append(
                    DeserializedEntity(
                        sub.entity,
                        "has_many" if sub.relationship == "root" else sub.relationship,
                        entity if sub.relationship == "root" else sub.parent_entity,
                        sub.frame,
                        parent_ids if sub.relationship == "root" else sub.parent_ids,
                    )
                )
        else:
            child_schema = dt  # type: ignore[assignment]
            base = df.select(
                record.getField("id").alias("__parent_id"),
                record.getField(name).alias(record_col),
                *(
                    [record.getField("links").getField(name).getField("type").alias("__type")]
                    if name in polymorphic_types
                    else []
                ),
            ).filter(F.col(record_col).isNotNull())
            routes: list[tuple[str, DataFrame]] = (
                [(underscore(t), base.filter(F.col("__type") == t)) for t in polymorphic_types[name]]
                if name in polymorphic_types
                else [(name, base)]
            )
            for child_entity, routed in routes:
                for sub in deserialize(
                    routed.drop("__type") if name in polymorphic_types else routed,
                    child_schema,
                    child_entity,
                    cfg,
                    record_col,
                    polymorphic_types,
                ):
                    out.append(
                        DeserializedEntity(
                            sub.entity,
                            "has_one" if sub.relationship == "root" else sub.relationship,
                            entity if sub.relationship == "root" else sub.parent_entity,
                            sub.frame,
                            sub.parent_ids,
                        )
                    )
    return out
