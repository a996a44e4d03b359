"""End-to-end demo mirroring the reference's proof-of-concept flow
(/root/reference/src/main/scala/ctdc/CtdcPoc.scala): a CSV customer feed
is normalized through a contract-pinned pipeline into Parquet, then a
drifted variant shows the construction-time rejection.

Run:  PYTHONPATH=. python examples/demo_pipeline.py
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Optional

from compile_time_data_contracts_spark import (
    ContractDriftError,
    PipelineBuilder,
    SchemaPolicy,
    Sink,
    Source,
    contract,
)
from compile_time_data_contracts_spark.contracts.types import int32
from compile_time_data_contracts_spark.operators.materialize import scratch_dir


# CtdcPoc.scala:20-24 — the producer and contract record shapes
@contract
@dataclass
class RawUser:
    id: int
    email: str
    age: Optional[int32] = None
    segment: str = ""


@contract
@dataclass
class User:
    id: int
    email: str
    age: Optional[int32] = None


@contract
@dataclass
class UserRegion:
    id: int
    email: str
    age: Optional[int32] = None
    region: str = "IN"


def main() -> None:
    from pyspark.sql import functions as F

    from compile_time_data_contracts_spark.session import local_session

    tmp = scratch_dir("ctdc_demo_")
    csv = os.path.join(tmp, "users.csv")
    with open(csv, "w") as f:
        f.write("id,email,age,segment\n1,a@b.com,21,S\n2,b@c.com,,L\n")

    spark = local_session("ctdc-demo", cores=4)

    # Green path (CtdcPoc.scala:110-163): CSV -> normalize -> Parquet.
    # The conformance proof runs at add_sink — before any Spark action.
    out = os.path.join(tmp, "users_parquet")
    pipeline = (
        PipelineBuilder("normalize-users")
        .add_source(Source(RawUser, "csv", csv, {"header": "true"}))
        .transform_as(
            UserRegion,
            "project+region",
            lambda df: df.select(
                "id", "email", "age", F.lit("IN").alias("region")
            ),
        )
        .add_sink(Sink(UserRegion, out), SchemaPolicy.EXACT_BY_POSITION)
        .build()
    )
    result = pipeline(spark)
    print(f"green path: wrote {result.count()} rows to {out}")

    # Red path (CtdcPoc.scala:165-171 / README drift example): the
    # producer still carries `segment`, which Exact rejects — the
    # pipeline refuses to BUILD, no job ever runs.
    try:
        (
            PipelineBuilder("drifted")
            .add_source(Source(RawUser, "csv", csv, {"header": "true"}))
            .no_transform()
            .add_sink(Sink(User, os.path.join(tmp, "x")), SchemaPolicy.EXACT)
        )
    except ContractDriftError as e:
        print("red path: construction-time rejection:")
        print(str(e))

    spark.stop()


if __name__ == "__main__":
    main()
