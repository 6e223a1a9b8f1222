"""JSONL source/sink gate queries: roundtrip fidelity and defective-row
skipping — the JSONL twins of the CSV-layer checks (SURVEY §2.1/§2.5)."""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..sources.jsonl_source import JsonlSink, JsonlSource
from .registry import dsum, register, sql_dsum


@register(
    "q_jsonl_roundtrip",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents WHERE doc_id < 500
    """,
    doc="documents → JsonlSink → JsonlSource (FAILFAST, explicit schema) — "
        "values and types survive the JSONL roundtrip.",
    tags=("jsonl", "source"),
)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    sample = docs.select("doc_id", "lang", "n_chars")
    with tempfile.TemporaryDirectory(
        prefix="jsonl_rt_", ignore_cleanup_errors=True
    ) as d:
        JsonlSink(folder=d).write(sample, "documents")
        back = JsonlSource(folder=d).read(
            spark, "documents", schema=sample.schema
        )
        return back.select("doc_id", "lang", "n_chars").localCheckpoint(
            eager=True
        )


@register(
    "q_jsonl_skip_corrupt",
    oracle=f"""
    SELECT lang, COUNT(*) AS n_docs, {sql_dsum('n_chars')} AS total_chars
    FROM documents WHERE doc_id < 500 GROUP BY lang
    """,
    doc="Defective-row skipping for JSONL: two unparseable lines injected "
        "into the file are dropped by the PERMISSIVE + corrupt-record "
        "read (the CSV skip-defective analog, CSVSourceReader.cs:53-56); "
        "the aggregate matches the clean-data oracle exactly.",
    tags=("jsonl", "source", "quality"),
)
def q_jsonl_skip_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    sample = docs.select("doc_id", "lang", "n_chars")
    with tempfile.TemporaryDirectory(
        prefix="jsonl_bad_", ignore_cleanup_errors=True
    ) as d:
        path = JsonlSink(folder=d).write(sample, "documents")
        with open(path, "a", encoding="utf-8") as fh:
            fh.write('{"doc_id": broken,,,\n')
            fh.write("not json at all\n")
        back = JsonlSource(folder=d).read(
            spark, "documents", schema=sample.schema, skip_defective=True
        )
        return (
            back.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                dsum(F.col("n_chars")).alias("total_chars"),
            )
            .localCheckpoint(eager=True)
        )
