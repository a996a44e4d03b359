"""Contract source generation — the migration path INTO the engine.

A user of the reference has Scala case classes; a user adopting this
engine usually has existing parquet/tables.  ``contract_source`` turns a
live ``StructType`` (e.g. ``spark.read.parquet(p).schema``) into the
Python dataclass-contract source for it, so the explicit-schema +
pin discipline can start from day one instead of after hand-transcribing
schemas.  Nested structs become nested @contract dataclasses; arrays and
maps carry their containsNull/valueContainsNull through Optional element
annotations; unsupported leaf types fail loudly (the contract type
system is deliberately closed, ContractsCore.scala:153-156).

The generated source round-trips: ``spark_schema(generated contract) ==
input schema`` up to field metadata — asserted in tests.
"""

from __future__ import annotations

import keyword
import re

from pyspark.sql import types as T

from . import types as sentinel_types
from .schema import _ATOMIC_KEYS, _LEAVES

__all__ = ["contract_source", "load_contract", "UnsupportedSchemaError"]


class UnsupportedSchemaError(TypeError):
    """The schema uses a type outside the closed contract leaf set."""


# Spark leaf -> annotation, inverted from the one leaf table: the first
# annotation per type wins (LongType -> int, not int64)
_ANNOTATIONS = {dt: tp for tp, dt in reversed(_LEAVES.items())}
_SENTINELS = {
    tp.__name__
    for tp in _ANNOTATIONS.values()
    if tp.__module__ == sentinel_types.__name__
}
_BUILTINS = {
    tp.__name__ for tp in _ANNOTATIONS.values() if tp.__module__ == "builtins"
}


def _leaf_annotation(tp: type, used: set) -> str:
    """Annotation text for a leaf class, recording the import it needs:
    a builtin needs none, a sentinel its own name, a stdlib class its
    module."""
    if tp.__module__ == "builtins":
        return tp.__name__
    if tp.__name__ in _SENTINELS:
        used.add(tp.__name__)
        return tp.__name__
    used.add(tp.__module__)
    return f"{tp.__module__}.{tp.__name__}"


def _ident(name: str) -> str:
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name) or keyword.iskeyword(
        name
    ):
        raise UnsupportedSchemaError(
            f"field name {name!r} is not a valid Python identifier; "
            "rename the column before generating a contract"
        )
    return name


def _annotation(
    dt: T.DataType, nullable_slot: bool, classes: list[tuple[str, list[str]]],
    used: set, prefix: str,
) -> str:
    if isinstance(dt, T.ArrayType):
        elem = _annotation(
            dt.elementType, dt.containsNull, classes, used, prefix
        )
        inner = f"list[{elem}]"
    elif isinstance(dt, T.MapType):
        if not isinstance(dt.keyType, _ATOMIC_KEYS):
            raise UnsupportedSchemaError(
                f"map key type {dt.keyType.simpleString()} is not atomic"
            )
        key = _annotation(dt.keyType, False, classes, used, prefix)
        val = _annotation(
            dt.valueType, dt.valueContainsNull, classes, used, prefix
        )
        inner = f"dict[{key}, {val}]"
    elif isinstance(dt, T.StructType):
        name = f"{prefix}_{len(classes)}"
        _emit_class(dt, name, classes, used)
        inner = f'"{name}"'
    elif dt in _ANNOTATIONS:
        inner = _leaf_annotation(_ANNOTATIONS[dt], used)
    elif isinstance(dt, T.DecimalType):
        raise UnsupportedSchemaError(
            f"decimal({dt.precision},{dt.scale}) is outside the contract "
            "set (only decimal(38,18) maps, reference "
            "DecimalType.SYSTEM_DEFAULT)"
        )
    else:
        raise UnsupportedSchemaError(
            f"type {dt.simpleString()} is outside the closed contract leaf set"
        )
    if nullable_slot:
        used.add("Optional")
        return f"Optional[{inner}]"
    return inner


def _emit_class(
    schema: T.StructType, name: str, classes: list[tuple[str, list[str]]],
    used: set,
) -> None:
    # kw_only=True lets defaulted (nullable) fields keep their schema
    # position instead of being forced to the tail
    lines: list[str] = []
    for f in schema.fields:
        ann = _annotation(f.dataType, False, classes, used, name)
        if f.nullable:
            used.add("Optional")
            if f.name in _BUILTINS:
                used.add(f.name)  # shadowed: see contract_source
            lines.append(f"    {_ident(f.name)}: Optional[{ann}] = None")
        else:
            lines.append(f"    {_ident(f.name)}: {ann}")
    classes.append((name, lines or ["    pass"]))


def load_contract(source: str, name: str, module_name: str = "ctdc_generated"):
    """Exec generated contract source inside a real registered module
    (``typing.get_type_hints`` resolves annotations through
    ``sys.modules[cls.__module__]``, so a bare ``exec(src, {})`` would
    fail on ``Optional``) and return the named contract class."""
    import sys
    import types as pytypes

    mod = pytypes.ModuleType(module_name)
    sys.modules[module_name] = mod
    exec(source, mod.__dict__)
    return getattr(mod, name)


def contract_source(schema: T.StructType, name: str = "GeneratedContract") -> str:
    """Return Python source declaring ``name`` as a @contract dataclass
    matching ``schema`` (nested structs become auxiliary classes emitted
    first).  Write it to a module file, or load it in-process with
    :func:`load_contract`; the result round-trips through
    ``spark_schema``."""
    classes: list[tuple[str, list[str]]] = []
    used: set = set()
    _emit_class(schema, name, classes, used)

    # postponed annotations FIRST: without this, a nullable column whose
    # name shadows an emitted annotation name (a column literally called
    # 'Optional', 'datetime', 'int32', ...) binds that name to None in the
    # class namespace and the NEXT annotation's evaluation crashes with
    # "'NoneType' object is not subscriptable".  The in-process
    # load_contract path only survived by accident (exec inherits this
    # module's own __future__ flag); the documented write-to-a-file path
    # needs the import in the generated source itself.
    imports = [
        "from __future__ import annotations",
        "",
        "from dataclasses import dataclass",
        "",
    ]
    # stdlib imports go after the __future__ line (which MUST stay
    # first — inserting above it would be a SyntaxError in the
    # generated module)
    # a nullable column named like a builtin annotation ('str', 'int',
    # ...) still binds it to None in its class namespace, which
    # get_type_hints searches before builtins but after the module: bind
    # the builtin in the module too
    shadowed = sorted(used & _BUILTINS)
    if shadowed:
        imports.insert(2, "from builtins import " + ", ".join(shadowed))
    if "datetime" in used:
        imports.insert(2, "import datetime")
    if "decimal" in used:
        imports.insert(2, "import decimal")
    if "Optional" in used:
        imports.append("from typing import Optional")
    sentinels = sorted(used & _SENTINELS)
    imports.append(
        "from compile_time_data_contracts_spark.contracts.shape import contract"
    )
    if sentinels:
        imports.append(
            "from compile_time_data_contracts_spark.contracts.types import "
            + ", ".join(sentinels)
        )

    blocks = []
    for cls_name, body in classes:
        blocks.append(
            "@contract\n@dataclass(kw_only=True)\nclass " + cls_name + ":\n"
            + "\n".join(body)
        )
    return "\n".join(imports) + "\n\n\n" + "\n\n\n".join(blocks) + "\n"
