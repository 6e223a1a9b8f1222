"""JSONL (newline-delimited JSON) source + sink.

The reference is CSV-only (SURVEY §2.1 — one file format,
/root/reference/src/CSVProvider.cs:180-184), but a training-data engine
lives on JSONL corpora, so the engine adds the format as a first-class
source with the same semantics slots as the CSV layer:

- one logical table per ``{table}.jsonl`` file, named by filename;
- schema: inferred by the Spark JSON reader, or caller-supplied
  ``StructType`` (the scale path — inference is a full extra pass);
- defective-row handling mirroring the CSV skip-defective mode
  (SURVEY §2.5, CSVSourceReader.cs:53-56): ``skip_defective=True`` reads
  PERMISSIVE with a corrupt-record column and drops unparseable lines;
  ``False`` fails the job on the first bad line (FAILFAST).

Scale: the JSON datasource is splittable per line, predicate/column
pruning reaches the scan, and a supplied schema avoids the inference
pass — at 100 TB always pass ``schema``. The sink writes in parallel and
commits through the staged commit it shares with the CSV sink: ``single_file=True`` joins
the parts in partition order into ``{table}.jsonl``; ``single_file=False``
keeps them as the ``{table}.jsonl.d`` directory.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sinks.staged import write_staged


@dataclass
class JsonlSource:
    """JSONL source folder; one logical table per ``{table}.jsonl``."""

    folder: str

    def path_for_table(self, table: str) -> str:
        return os.path.join(self.folder, f"{table}.jsonl")

    def tables(self) -> list[str]:
        return sorted(
            os.path.splitext(os.path.basename(p))[0]
            for p in glob.glob(os.path.join(self.folder, "*.jsonl"))
        )

    def read(
        self,
        spark: SparkSession,
        table: str,
        schema: T.StructType | None = None,
        skip_defective: bool = False,
    ) -> DataFrame:
        path = self.path_for_table(table)
        reader = spark.read
        if skip_defective:
            # text scan + from_json: malformed lines parse to a NULL
            # struct and are dropped — the JSONL analog of the CSV
            # skip-defective mode. (The corrupt-record-column route is
            # disallowed when pruning leaves only that column, e.g. under
            # count(); this form survives any pruning and stays inside
            # whole-stage codegen.)
            if schema is None:
                schema = spark.read.json(path).schema
            # malformed input parses to an all-null struct, so a corrupt-
            # record field INSIDE the struct is the reliable marker
            pschema = T.StructType(
                list(schema.fields) + [T.StructField("__bad", T.StringType())]
            )
            parsed = spark.read.text(path).select(
                F.from_json(
                    "value", pschema, {"columnNameOfCorruptRecord": "__bad"}
                ).alias("__r")
            )
            return (
                parsed.filter(F.col("__r.__bad").isNull())
                .select("__r.*")
                .drop("__bad")
            )
        if schema is not None:
            reader = reader.schema(schema)
        return reader.option("mode", "FAILFAST").json(path)


@dataclass
class JsonlSink:
    """JSONL destination folder; serializes rows with ``to_json`` over a
    struct of all columns (key order = column order, deterministic)."""

    folder: str

    def write(self, df: DataFrame, table: str, single_file: bool = True) -> str:
        out = df.select(
            F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value")
        )
        name = f"{table}.jsonl" if single_file else f"{table}.jsonl.d"
        return write_staged(out, self.folder, name, single_file)
