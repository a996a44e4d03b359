"""Custom Python data source (pyspark 4 DataSource API).

The extension point for systems Spark ships no connector for: a Python
class registered as a real format — ``spark.read.format("ctdc_synth")``
— with proper partition planning, so the source parallelizes across
executors like any file source instead of materializing on the driver.

``ctdc_synth`` generates a deterministic synthetic table
(id, hash32) where hash32 = (id * 2654435761) mod 2^32 — the same
multiplicative hash the sampling operators use — so an external engine
can regenerate identical rows for value-level verification.
"""

from __future__ import annotations

__all__ = ["register_synth_source", "SynthDataSource"]

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class _SynthReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", 1000))
        self.num_partitions = int(options.get("partitions", 8))
        # validate here, not in partitions(): a bad option should fail
        # with a clear message at reader construction, not surface as a
        # range()/ZeroDivisionError from inside Spark's task planning
        if self.num_partitions < 1:
            raise ValueError(
                f"ctdc_synth: partitions must be >= 1, got {self.num_partitions}"
            )

    def partitions(self):
        """Split [0, n) into contiguous id ranges — each executor task
        generates its own slice; nothing flows through the driver."""
        if self.n <= 0:  # empty table: no splits (per would be 0)
            return []
        per = -(-self.n // self.num_partitions)
        return [
            _RangePartition(lo, min(lo + per, self.n))
            for lo in range(0, self.n, per)
        ]

    def read(self, partition: "_RangePartition"):
        for i in range(partition.start, partition.end):
            yield (i, (i * 2654435761) % 4294967296)


class _SynthStreamReader(SimpleDataSourceStreamReader):
    """Offset-tracked micro-batch reader over the same deterministic
    generator: each trigger advances the offset by ``batch`` rows (capped
    at ``n``), and ``readBetweenOffsets`` regenerates any batch exactly —
    the replayability contract that gives Structured Streaming
    exactly-once over this source."""

    def __init__(self, options):
        self.n = max(0, int(options.get("n", 1000)))
        self.batch = int(options.get("batch", 1000))
        if self.batch < 1:  # batch=0 would stall the stream silently
            raise ValueError(
                f"ctdc_synth: batch must be >= 1, got {self.batch}"
            )

    def initialOffset(self):
        return {"offset": 0}

    def _rows(self, start: int, end: int):
        # a LIST iterator, not a generator: Spark's prefetch cache
        # copy.copy()s the iterator it is handed, and generators are
        # not copyable
        return iter(
            [(i, (i * 2654435761) % 4294967296) for i in range(start, end)]
        )

    def read(self, start):
        s = start["offset"]
        # clamp the end offset to never regress below the committed
        # start: restarting from a checkpoint with a LOWER 'n' option
        # would otherwise return e < s and re-emit already-committed
        # rows on the next trigger, violating replayability
        e = max(s, min(s + self.batch, self.n))
        return self._rows(s, e), {"offset": e}

    def readBetweenOffsets(self, start, end):
        return self._rows(start["offset"], end["offset"])


class SynthDataSource(DataSource):
    """Deterministic synthetic-table source (id long, hash32 long) —
    batch AND streaming capable."""

    @classmethod
    def name(cls) -> str:
        return "ctdc_synth"

    def schema(self) -> str:
        return "id long, hash32 long"

    def reader(self, schema):
        return _SynthReader(self.options)

    def simpleStreamReader(self, schema):
        return _SynthStreamReader(self.options)


def register_synth_source(spark) -> None:
    spark.dataSource.register(SynthDataSource)
