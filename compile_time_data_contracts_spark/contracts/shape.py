"""Contract declaration.

``@contract`` is the Python analogue of deriving `SparkSchema[C]` at
compile time (ContractsCore.scala:176-203, SparkCore.scala:198-299):
it reflects the dataclass into its StructType when the class is
declared, so an unsupported leaf fails the import that declares it.
The reflection and its quirks live in ``contracts/schema.py``.
"""

from __future__ import annotations

import dataclasses

from .schema import _SCHEMA_ATTR, UnsupportedShapeError, _reflect

__all__ = ["UnsupportedShapeError", "contract"]


def contract(cls: type) -> type:
    """Contract declaration decorator: makes ``cls`` a dataclass if it is
    not one and caches its StructType in the class's own ``__dict__``,
    which marks it as a contract.  Unsupported leaves raise
    immediately."""
    if not dataclasses.is_dataclass(cls):
        cls = dataclasses.dataclass(cls)
    setattr(cls, _SCHEMA_ATTR, _reflect(cls))
    return cls
