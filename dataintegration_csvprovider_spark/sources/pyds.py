"""Custom Python DataSource (Spark 4 ``pyspark.sql.datasource``): the
engine's template for sources Spark has no built-in reader for
(proprietary APIs, manifest-driven feeds, synthetic generators).

The example source is a deterministic sequence generator: it declares a
schema, plans N input partitions (each generates its own [start, end)
slice — reads parallelize across executors exactly like file splits),
and yields plain tuples that Spark Arrow-batches back. Values are
rational functions of the row id, so a SQL oracle over
``generate_series`` reproduces them bit-for-bit.

This is the V2-DataSource analog of the reference's programmatic source
injection (``WriteToSourceFile``, CSVProvider.cs:702-717): data that
originates outside the filesystem still enters the engine through a
declarative, partition-parallel scan — never a driver-side collect.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


class _Slice(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start, self.end = start, end


class SequenceDataSource(DataSource):
    """``spark.read.format("seqgen").option("n", ...).option("parts", ...)``"""

    @classmethod
    def name(cls) -> str:
        return "seqgen"

    def schema(self) -> str:
        return "id bigint, bucket bigint, x double"

    def reader(self, schema) -> "SequenceReader":
        return SequenceReader(self.options)


class SequenceReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.n = int(options.get("n", 1000))
        self.parts = int(options.get("parts", 8))

    def partitions(self):
        step = -(-self.n // self.parts)  # ceil
        return [
            _Slice(i * step, min(self.n, (i + 1) * step))
            for i in range(self.parts)
            if i * step < self.n
        ]

    def read(self, partition: _Slice):
        for i in range(partition.start, partition.end):
            # rational in i → bit-identical in any engine
            yield i, i % 7, ((i * 31) % 997) / 997.0


def register(spark) -> None:
    """Idempotent format registration."""
    spark.dataSource.register(SequenceDataSource)


from pyspark.sql.datasource import SimpleDataSourceStreamReader  # noqa: E402


class SequenceStreamReader(SimpleDataSourceStreamReader):
    """Offset-tracked streaming read over the same synthetic sequence:
    each micro-batch advances ``pos`` by ``batch`` rows; the engine's
    checkpoint persists the committed offset, so restarts resume at the
    exact row where the previous run stopped — the custom-source half
    of the exactly-once contract (q_stream_exactly_once proves the
    file-source half)."""

    def __init__(self, options) -> None:
        self.n = int(options.get("n", 100))
        self.batch = int(options.get("batch", 40))

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def read(self, start: dict):
        s = start["pos"]
        e = min(self.n, s + self.batch)
        return iter(
            [(i, i % 7, ((i * 31) % 997) / 997.0) for i in range(s, e)]
        ), {"pos": e}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(
            [
                (i, i % 7, ((i * 31) % 997) / 997.0)
                for i in range(start["pos"], end["pos"])
            ]
        )


class SequenceStreamDataSource(DataSource):
    """``spark.readStream.format("seqstream")`` — batch twin above."""

    @classmethod
    def name(cls) -> str:
        return "seqstream"

    def schema(self) -> str:
        return "id bigint, bucket bigint, x double"

    def simpleStreamReader(self, schema) -> SequenceStreamReader:
        return SequenceStreamReader(self.options)


def register_stream(spark) -> None:
    spark.dataSource.register(SequenceStreamDataSource)
