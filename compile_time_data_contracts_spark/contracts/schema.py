"""Contract -> Spark StructType reflection, and the closed leaf set.

Python re-expression of the reference's shape extraction and derivation
macro (`typeShapeOf`, ContractsCore.scala:176-203; `SparkSchema.derived`,
SparkCore.scala:198-299).  The reference needs a shape IR because a
macro sees only types at compile time; here the StructType exists when
the pipeline is built, so ``@contract`` reflects a dataclass's
annotations straight into it at declaration time (module import).
Unsupported leaves abort declaration, mirroring the reference's compile
abort (ContractsCore.scala:153-156).

Semantic quirks preserved (SURVEY.md §1.2):
  * field-level ``Optional[T]`` unwraps to ``T`` and becomes the field's
    ``nullable`` (SparkCore.scala:290), which the comparator never
    compares (ContractsCore.scala:195-196),
  * ``Optional`` nested inside a sequence/map value becomes
    ``ArrayType.containsNull`` / ``MapType.valueContainsNull``
    (SparkCore.scala:262,271), which *is* compared strictly
    (ContractsCore.scala:177, :247-260),
  * all sequence flavors (list/set/frozenset) collapse to one
    ``ArrayType`` — ``set[str]`` is structurally ``list[str]``
    (ContractsCore.scala:127-136),
  * map keys are restricted to atomic types (ContractsCore.scala:145-148),
  * default-valued fields are recorded in StructField metadata under
    ``"ctdc.hasDefault"`` (SparkCore.scala:20,285-290) so the Backward
    comparator can allow their absence; metadata survives Parquet
    round-trips in Spark.
"""

from __future__ import annotations

import dataclasses
import datetime
import decimal
import enum
import types as pytypes
import typing
import uuid

from pyspark.sql import types as T

from . import types as t

__all__ = ["spark_schema", "HAS_DEFAULT_KEY", "UnsupportedShapeError"]

HAS_DEFAULT_KEY = "ctdc.hasDefault"

# the closed contract leaf set, annotation -> Spark type
# (ContractsCore.scala:159-173, SparkCore.scala:239-251); codegen inverts
# it, keeping the first annotation per type
_LEAVES: dict[object, T.DataType] = {
    str: T.StringType(),
    int: T.LongType(),  # Python int is unbounded; widest integral, like Scala Long
    float: T.DoubleType(),
    bool: T.BooleanType(),
    decimal.Decimal: T.DecimalType(38, 18),
    datetime.date: T.DateType(),
    datetime.datetime: T.TimestampType(),
    t.int8: T.ByteType(),
    t.int16: T.ShortType(),
    t.int32: T.IntegerType(),
    t.int64: T.LongType(),
    t.float32: T.FloatType(),
    t.float64: T.DoubleType(),
    t.timestamp_ntz: T.TimestampNTZType(),
}

# atomic map-key types (ContractsCore.scala:145-148)
_ATOMIC_KEYS = (
    T.StringType, T.IntegerType, T.LongType, T.ShortType, T.ByteType, T.BooleanType
)

# the reference's leaf names where they differ from simpleString()
_NAMES = {T.LongType(): "long", T.ShortType(): "short", T.ByteType(): "byte"}


def _leaf_name(dt: T.DataType) -> str:
    """A leaf as drift reports and rejections name it."""
    return _NAMES.get(dt) or dt.simpleString()


_SUPPORTED = sorted({_leaf_name(dt) for dt in _LEAVES.values()})
_SUPPORTED_KEYS = sorted(_leaf_name(key()) for key in _ATOMIC_KEYS)

# the contract marker: the class's own reflected StructType
_SCHEMA_ATTR = "__ctdc_schema__"


class UnsupportedShapeError(TypeError):
    """Raised when a contract uses a leaf outside the supported closed set
    (reference compile abort, ContractsCore.scala:153-156)."""


def _unwrap_optional(tp: object) -> tuple[object, bool]:
    """Return (inner, was_optional) for Optional[T] / T | None annotations."""
    origin = typing.get_origin(tp)
    if origin is typing.Union or origin is pytypes.UnionType:
        args = [a for a in typing.get_args(tp) if a is not type(None)]
        if len(args) != 1 or len(typing.get_args(tp)) != 2:
            raise UnsupportedShapeError(
                f"Unsupported union type {tp!r}: only Optional[T] is supported"
            )
        return args[0], True
    return tp, False


def _reflect(cls: type, path: str = "", reflecting: tuple = ()) -> T.StructType:
    """Dataclass -> StructType: field ``Optional`` -> ``nullable``, a
    default -> ``ctdc.hasDefault`` (ContractsCore.scala:188-198).  A
    contract's cached StructType is reused; ``reflecting`` holds the
    classes on the way down, so a recursive contract is refused instead
    of recursing forever."""
    cached = cls.__dict__.get(_SCHEMA_ATTR)
    if cached is not None:
        return cached
    if cls in reflecting:
        raise UnsupportedShapeError(
            f"Unsupported recursive contract: {path} refers back to {cls.__name__}"
        )
    reflecting += (cls,)
    hints = typing.get_type_hints(cls)
    fields = []
    for f in dataclasses.fields(cls):
        tp, nullable = _unwrap_optional(hints[f.name])
        has_default = (
            f.default is not dataclasses.MISSING
            or f.default_factory is not dataclasses.MISSING  # type: ignore[misc]
        )
        at = f"{path}.{f.name}" if path else f.name
        fields.append(
            T.StructField(
                f.name,
                _data_type(tp, at, reflecting),
                nullable=nullable,
                metadata={HAS_DEFAULT_KEY: has_default},
            )
        )
    return T.StructType(fields)


def _data_type(tp: object, path: str, reflecting: tuple) -> T.DataType:
    leaf = _LEAVES.get(tp)
    if leaf is not None:
        return leaf
    origin, args = typing.get_origin(tp), typing.get_args(tp)
    if origin in (list, set, frozenset) and len(args) == 1:
        elem, contains_null = _unwrap_optional(args[0])
        return T.ArrayType(
            _data_type(elem, f"{path}[]", reflecting), containsNull=contains_null
        )
    if origin is dict and len(args) == 2:
        key, value = args
        if not isinstance(_LEAVES.get(key), _ATOMIC_KEYS):
            raise UnsupportedShapeError(
                f"Unsupported map key type {key!r}: map keys must be atomic "
                f"({_SUPPORTED_KEYS})"
            )
        value, value_contains_null = _unwrap_optional(value)
        return T.MapType(
            _LEAVES[key],
            _data_type(value, f"{path}<value>", reflecting),
            valueContainsNull=value_contains_null,
        )
    if origin is None and dataclasses.is_dataclass(tp):
        return _reflect(tp, path, reflecting)
    _reject(tp)  # tuple, bare or mis-parametrized containers, other types


def _reject(tp: object) -> typing.NoReturn:
    """Strict closed-set enforcement: UUID, enums, tuples, arbitrary classes
    are rejected exactly as the reference rejects them
    (tests SchemaConformsSpec.scala:181-227, SparkSchemaSpec.scala:71-114)."""
    label = getattr(tp, "__name__", None) or repr(tp)
    if isinstance(tp, type) and issubclass(tp, enum.Enum):
        kind = "enum"
    elif tp is uuid.UUID:
        kind = "UUID"
    elif typing.get_origin(tp) is tuple or tp is tuple:
        kind = "tuple"
    else:
        kind = "type"
    raise UnsupportedShapeError(
        f"Unsupported contract leaf {kind} '{label}': supported leaves are "
        f"{_SUPPORTED}, Optional[...], list/set[...], "
        f"dict[atomic, ...], and nested contract dataclasses"
    )


def spark_schema(contract: typing.Union[type, T.StructType]) -> T.StructType:
    """The contract's StructType.  A StructType passes through unchanged;
    a dataclass's is reflected once and cached in its own ``__dict__``
    (never ``getattr``: an undecorated dataclass subclass would otherwise
    inherit, and serve, the parent's schema)."""
    if isinstance(contract, T.StructType):
        return contract
    if not (isinstance(contract, type) and dataclasses.is_dataclass(contract)):
        raise UnsupportedShapeError(f"{contract!r} is not a contract")
    schema = contract.__dict__.get(_SCHEMA_ATTR)
    if schema is None:
        schema = _reflect(contract)
        setattr(contract, _SCHEMA_ATTR, schema)
    return schema
