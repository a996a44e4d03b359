"""Contract -> Spark StructType derivation.

Python re-expression of the reference's derivation macro
(`SparkSchema.derived`, /root/reference/src/main/scala/ctdc/SparkCore.scala:198-299):

  * field nullability = field-level optionality (SparkCore.scala:290),
  * sequence/map value optionality -> ``ArrayType.containsNull`` /
    ``MapType.valueContainsNull`` (SparkCore.scala:262,271),
  * default-valued fields recorded in StructField metadata under
    ``"ctdc.hasDefault"`` (SparkCore.scala:20,285-290) so the runtime
    Backward comparator can allow their absence; metadata survives Parquet
    round-trips in Spark.
"""

from __future__ import annotations

import typing

from pyspark.sql import types as T

from .shape import (
    MapShape,
    PrimitiveShape,
    SequenceShape,
    Shape,
    StructShape,
    shape_for,
)

__all__ = ["spark_schema", "spark_type", "HAS_DEFAULT_KEY"]

HAS_DEFAULT_KEY = "ctdc.hasDefault"

_PRIM_TO_SPARK: dict[str, T.DataType] = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "short": T.ShortType(),
    "byte": T.ByteType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "boolean": T.BooleanType(),
    "decimal(38,18)": T.DecimalType(38, 18),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
    "timestamp_ntz": T.TimestampNTZType(),
}


class _ShapeLeaf(T.DataType):
    """A hand-built ``PrimitiveShape`` named outside the contract set
    (``@contract`` never makes one): it equals only a leaf of the same
    name and renders as that name, so ``conforms`` compares such shapes
    as the shape IR spells them.  Spark cannot read or write it."""

    def __init__(self, name: str):
        self.name = name

    def simpleString(self) -> str:
        return self.name


def _leaf(name: str) -> T.DataType:
    return _PRIM_TO_SPARK[name] if name in _PRIM_TO_SPARK else _ShapeLeaf(name)


def spark_type(shape: Shape) -> T.DataType:
    if isinstance(shape, PrimitiveShape):
        return _leaf(shape.name)
    if isinstance(shape, SequenceShape):
        return T.ArrayType(spark_type(shape.element), containsNull=shape.contains_null)
    if isinstance(shape, MapShape):
        return T.MapType(
            _leaf(shape.key),
            spark_type(shape.value),
            valueContainsNull=shape.value_contains_null,
        )
    if isinstance(shape, StructShape):
        return _struct_type(shape)
    raise TypeError(f"unknown shape {shape!r}")


def _struct_type(shape: StructShape) -> T.StructType:
    fields = [
        T.StructField(
            f.name,
            spark_type(f.shape),
            nullable=f.is_optional,
            metadata={HAS_DEFAULT_KEY: f.has_default},
        )
        for f in shape.fields
    ]
    return T.StructType(fields)


def spark_schema(contract_cls: typing.Union[type, StructShape]) -> T.StructType:
    """Derive (and cache on the contract class) the StructType."""
    if isinstance(contract_cls, StructShape):
        return _struct_type(contract_cls)
    # own-dict lookup, never getattr: an undecorated dataclass subclass
    # would otherwise inherit (and serve) the PARENT's cached schema
    cached = contract_cls.__dict__.get("__ctdc_schema__")
    if cached is not None:
        return cached
    schema = _struct_type(shape_for(contract_cls))
    try:
        contract_cls.__ctdc_schema__ = schema  # type: ignore[attr-defined]
    except (AttributeError, TypeError):
        pass
    return schema
