"""CSV-layer queries (SURVEY.md §2.1-§2.6): the reference's core surface,
oracle-checked end-to-end.

Each query exercises the real pipeline — fixture parquet → CsvSink (the
reference's quoting/NULL/newline semantics) → CsvSource scan → mapping
compile — and returns a DataFrame whose oracle is plain SQL over the
original table. A value that survives the round trip and still hash-matches
proves the CSV semantics are lossless where the reference's are.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.datetimefmt import format_reference_datetime
from ..plans.conditionals import Conditional
from ..plans.mapping_compiler import ColumnMapping, Mapping, compile_mapping
from ..sinks.csv_sink import CsvSink
from ..sources.csv_source import CsvSource, CsvSourceOptions
from .registry import dsum, register, sql_dsum


def _roundtrip(spark: SparkSession, df: DataFrame, table: str,
               src_options: CsvSourceOptions | None = None) -> DataFrame:
    """parquet df → CsvSink single-file write → CsvSource scan.

    The scanned table is eagerly localCheckpoint'ed so the temp folder
    can be removed immediately instead of leaking per run (these are
    small fixture-scale roundtrips; at production scale the sink writes
    to a durable destination, not a temp dir).
    """
    with tempfile.TemporaryDirectory(
        prefix=f"csvops_{table}_", ignore_cleanup_errors=True
    ) as d:
        CsvSink(folder=d).write(df, table)
        src = CsvSource(folder=d, options=src_options or CsvSourceOptions())
        return src.read(spark, table).localCheckpoint(eager=True)


@register(
    "q_csv_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    doc="S1/K1/K3: write nation through the sink, scan it back, re-type.",
    tags=("csv",),
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    back = _roundtrip(spark, nation, "nation")
    return back.select(
        F.col("n_nationkey").cast("int").alias("n_nationkey"),
        F.col("n_name").alias("n_name"),
        F.col("n_regionkey").cast("int").alias("n_regionkey"),
    )


@register(
    "q_csv_mapping_pipeline",
    oracle="""
    SELECT c_custkey AS custkey, c_name AS cust_name,
           CAST(c_acctbal AS DOUBLE) AS acctbal, 'csv' AS src
    FROM customer
    WHERE c_mktsegment = 'BUILDING'
    """,
    doc="P1/F1/T3/T4: conditionals + project/rename/retype + constant via "
        "the mapping compiler over a CSV scan.",
    tags=("csv", "mapping"),
)
def q_csv_mapping_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    back = _roundtrip(spark, cust, "customer")
    mapping = Mapping(
        source_table="customer",
        column_mappings=[
            ColumnMapping(source_column="c_custkey", destination_column="custkey",
                          dest_type="bigint"),
            ColumnMapping(source_column="c_name", destination_column="cust_name"),
            ColumnMapping(source_column="c_acctbal", destination_column="acctbal",
                          dest_type="double"),
            ColumnMapping(destination_column="src", constant="csv"),
        ],
        conditionals=[Conditional("c_mktsegment", "eq", "BUILDING")],
    )
    return compile_mapping(back, mapping)


@register(
    "q_csv_null_sentinel",
    oracle="""
    SELECT COALESCE(NULLIF(o_orderstatus, 'O'), '<null>') AS status,
           COUNT(*) AS n
    FROM orders
    GROUP BY COALESCE(NULLIF(o_orderstatus, 'O'), '<null>')
    """,
    doc="F3/K3: SQL NULLs survive the unquoted-NULL sentinel round trip.",
    tags=("csv", "null"),
)
def q_csv_null_sentinel(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    with_nulls = orders.select(
        F.nullif("o_orderstatus", F.lit("O")).alias("status_raw")
    )
    back = _roundtrip(spark, with_nulls, "orders_nulls")
    return (
        back.select(F.coalesce("status_raw", F.lit("<null>")).alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_csv_decimal_comma",
    oracle=f"""
    SELECT l_returnflag, {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="T1/T2: comma-decimal CSV cells parse back to the exact doubles.",
    tags=("csv", "decimal"),
)
def q_csv_decimal_comma(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # render quantities with ',' decimals, as a European-locale file would
    commas = li.select(
        "l_returnflag",
        F.replace(F.col("l_quantity").cast("string"), F.lit("."), F.lit(","))
        .alias("l_quantity"),
    )
    back = _roundtrip(spark, commas, "lineitem_commas")
    mapping = Mapping(
        source_table="lineitem_commas",
        column_mappings=[
            ColumnMapping(source_column="l_returnflag"),
            ColumnMapping(source_column="l_quantity", dest_type="double"),
        ],
    )
    typed = compile_mapping(back, mapping, decimal_separator=",")
    return typed.groupBy("l_returnflag").agg(dsum(F.col("l_quantity")).alias("sum_qty"))


@register(
    "q_csv_dialects",
    oracle="""
    SELECT 'tab' AS dialect, COUNT(*) AS n,
           {d} AS total
    FROM supplier
    UNION ALL
    SELECT 'comma', COUNT(*),
           {d}
    FROM supplier
    """.format(d=sql_dsum("s_acctbal")),
    doc="S1 dialect coverage: the same table round-tripped through "
        "tab-delimited/'-quoted and comma-delimited variants must agree.",
    tags=("csv", "dialect"),
)
def q_csv_dialects(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..sinks.csv_sink import CsvSinkOptions

    supplier = load_table(spark, sf_dir, "supplier")
    out = []
    for dialect, sep, quote in [("tab", "\t", "'"), ("comma", ",", '"')]:
        with tempfile.TemporaryDirectory(
            prefix=f"dialect_{dialect}_", ignore_cleanup_errors=True
        ) as d:
            CsvSink(
                folder=d, options=CsvSinkOptions(delimiter=sep, quote=quote)
            ).write(supplier, "supplier")
            src = CsvSource(
                folder=d,
                options=CsvSourceOptions(delimiter=sep, quote=quote),
            )
            back = src.read(spark, "supplier")
            out.append(
                back.agg(
                    F.lit(dialect).alias("dialect"),
                    F.count(F.lit(1)).alias("n"),
                    dsum(F.col("s_acctbal")).alias("total"),
                ).localCheckpoint(eager=True)
            )
    return out[0].unionByName(out[1])


@register(
    "q_csv_datetime_format",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%d-%m-%Y %H:%M:%S:%g') AS rendered
    FROM orders
    WHERE o_orderkey <= 2000
    """,
    doc="T5: reference dd-MM-yyyy HH:mm:ss:fff render of order dates.",
    tags=("csv", "datetime"),
)
def q_csv_datetime_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    return orders.select(
        "o_orderkey",
        format_reference_datetime(F.col("o_orderdate")).alias("rendered"),
    )


@register(
    "q_text_source_logs",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           {d} AS total,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_seen
    FROM events WHERE user_id < 50
    GROUP BY event_type
    """.format(d=sql_dsum("value")),
    doc="Unstructured-text ETL: events rendered as pipe-delimited log "
        "lines, written through the text sink, re-read with "
        "spark.read.text and parsed back with one regexp_extract per "
        "field (the raw-log ingestion path; the regex stays in "
        "whole-stage codegen). The parse is lossless — %.2f re-renders "
        "the 2-decimal fixture doubles exactly and the timestamp "
        "roundtrips through cast — so the windowed aggregate matches "
        "the parquet-sourced oracle bit-for-bit.",
    tags=("source", "text", "csv"),
)
def q_text_source_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    lines = ev.select(
        F.format_string(
            "%s|%s|%d|%.2f",
            F.col("ts").cast("string"),
            F.col("event_type"),
            F.col("user_id"),
            F.col("value"),
        ).alias("value")
    )
    with tempfile.TemporaryDirectory(
        prefix="text_logs_", ignore_cleanup_errors=True
    ) as d:
        lines.write.mode("overwrite").text(d)
        raw = spark.read.text(d)
        pat = r"^([^|]*)\|([^|]*)\|([^|]*)\|(.*)$"
        parsed = raw.select(
            F.regexp_extract("value", pat, 1).cast("timestamp_ntz").alias("ts"),
            F.regexp_extract("value", pat, 2).alias("event_type"),
            F.regexp_extract("value", pat, 3).cast("bigint").alias("user_id"),
            F.regexp_extract("value", pat, 4).cast("double").alias("val"),
        )
        return (
            parsed.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                dsum(F.col("val")).alias("total"),
                F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                    "last_seen"
                ),
            )
            .localCheckpoint(eager=True)
        )


@register(
    "q_collation_group",
    oracle="""
    SELECT lower(CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
                      ELSE lower(c_mktsegment) END) AS segment,
           COUNT(*) AS n,
           {d} AS total_bal
    FROM customer
    GROUP BY 1
    """.format(d=sql_dsum("c_acctbal")),
    doc="Case-insensitive grouping via Spark 4 collations: a mixed-case "
        "segment column (case varies by customer-key parity) grouped "
        "under UTF8_LCASE merges the variants *in the grouping "
        "comparison itself* — no pre-normalization pass over the data; "
        "the output key is lowered only for display. The oracle "
        "normalizes with lower(), equivalent for this ASCII domain.",
    tags=("agg", "collation", "scalar"),
)
def q_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    mixed = F.when(
        F.col("c_custkey") % 2 == 0, F.upper("c_mktsegment")
    ).otherwise(F.lower("c_mktsegment"))
    return (
        cust.withColumn("seg_mixed", mixed)
        .groupBy(F.collate(F.col("seg_mixed"), "UTF8_LCASE").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("c_acctbal")).alias("total_bal"),
        )
        .select(
            F.lower(F.col("seg")).cast("string").alias("segment"),
            "n",
            "total_bal",
        )
    )


@register(
    "q_python_datasource",
    oracle="""
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(i) AS BIGINT) AS min_id,
           CAST(MAX(i) AS BIGINT) AS max_id,
           {d} AS total_x
    FROM (SELECT unnest(generate_series(0, 19999)) AS i),
         LATERAL (SELECT i % 7 AS bucket)
    GROUP BY bucket
    """.format(d=sql_dsum("((i * 31) % 997) / 997.0")),
    doc="Custom Python DataSource (Spark 4 datasource API, "
        "sources/pyds.py): a from-scratch format with declared schema "
        "and 8 planned input partitions, each generating its slice "
        "executor-side — the template for API-backed or synthetic "
        "sources; no driver materialization anywhere. Values are "
        "rational in the row id, so the generate_series oracle matches "
        "bit-for-bit.",
    tags=("source", "datasource"),
)
def q_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import pyds

    pyds.register(spark)
    df = (
        spark.read.format("seqgen")
        .option("n", 20000)
        .option("parts", 8)
        .load()
    )
    return df.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("id").cast("bigint").alias("min_id"),
        F.max("id").cast("bigint").alias("max_id"),
        dsum(F.col("x")).alias("total_x"),
    )


@register(
    "q_csv_culture_render",
    oracle="""
    SELECT c_custkey AS custkey,
           REPLACE(CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR),
                   '.', ',') AS acctbal_dk
    FROM customer
    """,
    doc="T6: job-culture numeric rendering at the sink — a da-DK job "
        "writes comma-decimal cells (reference formats numerics with "
        "string.Format(cultureInfo, ...), CSVDestinationWriter.cs:135; "
        "culture from job config, CSVProvider.cs:618-629). The file is "
        "scanned back raw, so the oracle sees the exact written bytes.",
    tags=("csv", "culture"),
)
def q_csv_culture_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sinks.csv_sink import CsvSinkOptions

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").cast("decimal(18,2)").alias("c_acctbal")
    )
    with tempfile.TemporaryDirectory(
        prefix="csvops_culture_", ignore_cleanup_errors=True
    ) as d:
        CsvSink(folder=d, options=CsvSinkOptions(culture="da-DK")).write(
            cust, "customer_dk"
        )
        back = CsvSource(folder=d, options=CsvSourceOptions()).read(
            spark, "customer_dk"
        )
        return back.select(
            F.col("c_custkey").cast("bigint").alias("custkey"),
            F.col("c_acctbal").alias("acctbal_dk"),
        ).localCheckpoint(eager=True)


@register(
    "q_xml_jobspec_import",
    oracle="""
    SELECT n_nationkey AS nationkey, n_name AS nation_name, 'xml' AS origin
    FROM nation WHERE CAST(n_regionkey AS INT) = 1
    """,
    doc="J3 migration fidelity (xml_settings.py): a reference-shaped "
        "provider XML node (the SaveAsXml element form, "
        "CSVProvider.cs:317-351/363-454 — CDATA delimiters, 'True' "
        "booleans, 'Detect automatically' decimal sentinel, substring-"
        "dispatch encoding) imports into a JobSpec; the job then runs "
        "end-to-end: CSV scan with the imported dialect -> conditional "
        "-> projection/rename/constant -> CSV sink with the imported "
        "encoding -> scan-back. Values must hash-match plain SQL over "
        "the original table.",
    tags=("csv", "xml", "jobs"),
)
def q_xml_jobspec_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..jobs import run_job
    from ..xml_settings import jobspec_from_xml

    with (
        tempfile.TemporaryDirectory(
            prefix="xmljob_src_", ignore_cleanup_errors=True
        ) as src_dir,
        tempfile.TemporaryDirectory(
            prefix="xmljob_dst_", ignore_cleanup_errors=True
        ) as dst_dir,
    ):
        nation = load_table(spark, sf_dir, "nation")
        # land the source as a reference-dialect CSV file
        CsvSink(folder=src_dir).write(nation, "nation")

        xml = f"""
        <CsvProvider>
          <SourceFieldDelimiter><![CDATA[;]]></SourceFieldDelimiter>
          <QuoteChar><![CDATA["]]></QuoteChar>
          <SourceFirstRowContainsColumnNames>True</SourceFirstRowContainsColumnNames>
          <DestinationFirstRowContainsColumnNames>True</DestinationFirstRowContainsColumnNames>
          <SourcePath>{src_dir}</SourcePath>
          <DestinationPath>{dst_dir}</DestinationPath>
          <DestinationEncoding>Unicode (UTF-8)</DestinationEncoding>
          <SourceDecimalSeparator>Detect automatically</SourceDecimalSeparator>
          <DeleteSourceFiles>False</DeleteSourceFiles>
          <IncludeTimestampInFileName>False</IncludeTimestampInFileName>
          <IgnoreDefectiveRows>False</IgnoreDefectiveRows>
        </CsvProvider>
        """
        job = jobspec_from_xml(xml)
        job.mappings = [
            Mapping(
                source_table="nation",
                destination_table="nation_out",
                column_mappings=[
                    ColumnMapping(source_column="n_nationkey",
                                  destination_column="nationkey"),
                    ColumnMapping(source_column="n_name",
                                  destination_column="nation_name"),
                    ColumnMapping(destination_column="origin", constant="xml"),
                ],
                conditionals=[Conditional("n_regionkey", "eq", "1")],
            )
        ]
        result = run_job(spark, job)
        if not result.success:
            raise RuntimeError(f"xml-imported job failed: {result.errors}")
        back = CsvSource(
            folder=dst_dir, options=CsvSourceOptions()
        ).read(spark, "nation_out").localCheckpoint(eager=True)
        return back.select(
            F.col("nationkey").cast("int").alias("nationkey"),
            "nation_name",
            "origin",
        )


@register(
    "q_csv_defective_audit",
    # E1 end-to-end, driver-gradable: a hand-built CSV with two
    # defective rows (wrong column count). DROPMALFORMED yields the 4
    # good rows; the PERMISSIVE audit scan captures exactly the 2 raw
    # defective records — the engine analog of the reference's bad-data
    # callback logging field + raw record (CSVSourceReader.cs:64-68).
    oracle="""
    SELECT * FROM (VALUES
      ('kept',    CAST(4 AS BIGINT), CAST(6 AS BIGINT)),
      ('dropped', CAST(2 AS BIGINT), CAST(NULL AS BIGINT))
    ) AS t(bucket, n_rows, value_total)
    """,
    doc="E1 skip-defective-rows with audit trail "
        "(sources/csv_source.py read / read_with_audit): DROPMALFORMED "
        "keeps the parseable rows; the PERMISSIVE companion scan counts "
        "the raw defective records so nothing is silently lost — counts "
        "pinned as constants.",
    tags=("csv", "errors"),
)
def q_csv_defective_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    with tempfile.TemporaryDirectory(
        prefix="defective_", ignore_cleanup_errors=True
    ) as d:
        with open(os.path.join(d, "items.csv"), "w", encoding="utf-8") as fh:
            fh.write(
                "id;value\n"
                "1;1\n"
                "2;2\n"
                "broken-row-without-delimiter\n"
                "3;3\n"
                "4;4;extra;fields;beyond;schema\n"
                "5;NULL\n"
            )
        # the NULL-sentinel row is GOOD (decodes to SQL NULL); the
        # extra-fields row is defective like the short row — 4 good rows
        # carry values 1+2+3+NULL = 6
        src = CsvSource(
            folder=d,
            options=CsvSourceOptions(ignore_defective_rows=True),
        )
        good = src.read(spark, "items").localCheckpoint(eager=True)
        audit = (
            src.read_with_audit(spark, "items")
            .filter(F.col("_corrupt_record").isNotNull())
            .localCheckpoint(eager=True)
        )
    kept = good.agg(
        F.lit("kept").alias("bucket"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("value").cast("bigint")).cast("bigint").alias("value_total"),
    )
    dropped = audit.agg(
        F.lit("dropped").alias("bucket"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.lit(None).cast("bigint").alias("value_total"),
    )
    return kept.unionByName(dropped)


@register(
    "q_job_error_report",
    # E5 end-to-end: a two-mapping job where one mapping references a
    # missing source table. The job must NOT throw — the failing mapping
    # contributes a structured error, the good mapping still writes its
    # output (the reference catches per-job, logs, returns false but
    # closes writers: CSVProvider.cs:580-599). Constants oracle.
    oracle="""
    SELECT CAST(FALSE AS BOOLEAN) AS job_success,
           CAST(1 AS BIGINT) AS n_outputs,
           CAST(1 AS BIGINT) AS n_errors,
           CAST(5 AS BIGINT) AS good_rows_written
    """,
    doc="E5 job-level error capture (jobs.py run_job): one bad mapping "
        "(missing source table) fails structurally — captured in "
        "JobResult.errors, success=False — while the good mapping's "
        "output is still written and scan-backable. No exception "
        "escapes; nothing half-written.",
    tags=("csv", "errors", "jobs"),
)
def q_job_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..jobs import JobSpec, run_job
    from ..sinks.csv_sink import CsvSink

    with (
        tempfile.TemporaryDirectory(
            prefix="joberr_src_", ignore_cleanup_errors=True
        ) as src_dir,
        tempfile.TemporaryDirectory(
            prefix="joberr_dst_", ignore_cleanup_errors=True
        ) as dst_dir,
    ):
        region = load_table(spark, sf_dir, "region")
        CsvSink(folder=src_dir).write(region, "region")
        job = JobSpec(
            source=CsvSource(folder=src_dir),
            destination=CsvSink(folder=dst_dir),
            mappings=[
                Mapping(
                    source_table="region",
                    destination_table="region_out",
                    column_mappings=[
                        ColumnMapping(source_column="r_regionkey"),
                        ColumnMapping(source_column="r_name"),
                    ],
                ),
                Mapping(
                    source_table="no_such_table",
                    destination_table="nope",
                    column_mappings=[ColumnMapping(source_column="x")],
                ),
            ],
        )
        result = run_job(spark, job)
        back = CsvSource(folder=dst_dir).read(spark, "region_out")
        n_written = back.count()
    return spark.createDataFrame(
        [
            (
                bool(result.success),
                len(result.outputs),
                len(result.errors),
                int(n_written),
            )
        ],
        "job_success boolean, n_outputs bigint, n_errors bigint, "
        "good_rows_written bigint",
    )


@register(
    "q_csv_fidelity_gates",
    # Three reference behaviors, end-to-end in one constants-oracle
    # query: S2 a selected file OVERRIDES the folder
    # (CSVProvider.cs:478-485); E3 duplicated non-empty header names
    # reject with the names listed (CSVSourceReader.cs:245-273); S6
    # post-job source deletion removes every source file, per-file
    # errors non-fatal (CSVProvider.cs:355-361,658-671).
    oracle="""
    SELECT * FROM (VALUES
      ('file_overrides_folder', TRUE),
      ('dup_header_rejected',   TRUE),
      ('sources_deleted',       TRUE)
    ) AS t(gate, ok)
    """,
    doc="Reference-fidelity gates for S2/E3/S6 in one query: selected "
        "file wins over the folder; duplicate headers raise naming the "
        "offenders; delete_source_files removes every source file and "
        "reports the list.",
    tags=("csv", "errors", "jobs"),
)
def q_csv_fidelity_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    with tempfile.TemporaryDirectory(
        prefix="fidelity_", ignore_cleanup_errors=True
    ) as d:
        # folder table 'items' has 2 rows; the SELECTED file has 3 —
        # reading table 'items' through a file-selected source must see 3
        with open(os.path.join(d, "items.csv"), "w", encoding="utf-8") as fh:
            fh.write("id;v\n1;a\n2;b\n")
        override = os.path.join(d, "override.csv")
        with open(override, "w", encoding="utf-8") as fh:
            fh.write("id;v\n1;x\n2;y\n3;z\n")
        src_file = CsvSource(folder=d, file=override)
        n = src_file.read(spark, "items").count()
        file_overrides = bool(n == 3)

        # E3: duplicate non-empty header names reject, listing offenders
        with open(os.path.join(d, "dup.csv"), "w", encoding="utf-8") as fh:
            fh.write("id;name;name;id\n1;a;b;2\n")
        try:
            CsvSource(folder=d).read(spark, "dup")
            dup_rejected = False
        except ValueError as exc:
            dup_rejected = "name" in str(exc) and "id" in str(exc)

        # S6: deletion removes every file and reports the list
        src_del = CsvSource(folder=d)
        deleted = src_del.delete_source_files()
        remaining = [p for p in os.listdir(d) if p.endswith(".csv")]
        sources_deleted = bool(len(deleted) == 3 and not remaining)
    return spark.createDataFrame(
        [
            ("file_overrides_folder", file_overrides),
            ("dup_header_rejected", dup_rejected),
            ("sources_deleted", sources_deleted),
        ],
        "gate string, ok boolean",
    )


@register(
    "q_csv_script_columns",
    oracle="""
    SELECT o_orderkey AS orderkey,
           UPPER(o_orderpriority) AS priority_upper,
           CAST(CAST(o_totalprice AS DOUBLE) * 1.25 AS DOUBLE) AS gross,
           'scripted' AS origin
    FROM orders
    WHERE o_orderstatus = 'F' AND o_orderkey % 10 = 0
    """,
    doc="T4 scripted columns end-to-end (plans/mapping_compiler.py "
        "ColumnMapping.script — the engine analog of the reference's "
        "GetScriptValue/ScriptType hooks, CSVDestinationWriter.cs:95-115): "
        "a mapping whose output columns are Spark SQL expressions over "
        "source columns (string fn, typed arithmetic) plus a constant, "
        "behind a conditional, through a real CSV round trip.",
    tags=("csv", "mapping", "script"),
)
def q_csv_script_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 == 0
    )
    back = _roundtrip(spark, orders, "orders_script")
    mapping = Mapping(
        source_table="orders_script",
        column_mappings=[
            ColumnMapping(source_column="o_orderkey",
                          destination_column="orderkey", dest_type="bigint"),
            ColumnMapping(destination_column="priority_upper",
                          script="upper(o_orderpriority)"),
            ColumnMapping(destination_column="gross",
                          script="cast(cast(o_totalprice as double) * 1.25 as double)"),
            ColumnMapping(destination_column="origin", constant="scripted"),
        ],
        conditionals=[Conditional("o_orderstatus", "eq", "F")],
    )
    return compile_mapping(back, mapping)


@register(
    "q_csv_encoding_roundtrip",
    # K1's encoding surface (GetEncoding map, CSVProvider.cs:603-616):
    # accented/cyrillic text written in each supported encoding and
    # scanned back must be byte-faithful. Constants oracle — the strings
    # themselves are the assertion.
    oracle="""
    SELECT * FROM (VALUES
      ('UTF-8',        'café naïve jalapeño', TRUE),
      ('windows-1252', 'café naïve jalapeño', TRUE),
      ('windows-1251', CHR(1055) || CHR(1088) || CHR(1080) || CHR(1074) ||
                       CHR(1077) || CHR(1090), TRUE),
      ('UTF-16',       'café Привет', TRUE)
    ) AS t(encoding, sample_text, roundtrip_ok)
    """,
    doc="K1/S1 encoding fidelity: non-ASCII text (western accents, "
        "cyrillic) round-trips byte-faithfully through every encoding "
        "the reference's GetEncoding map supports — UTF-8, cp1252, "
        "cp1251, UTF-16 (the non-ASCII-compatible charset rides the "
        "whole-file multiLine reader; see CsvSourceOptions).",
    tags=("csv", "encoding"),
)
def q_csv_encoding_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    samples = {
        "UTF-8": "café naïve jalapeño",
        "windows-1252": "café naïve jalapeño",
        "windows-1251": "Привет",
        "UTF-16": "café Привет",
    }
    rows = []
    for enc, text in samples.items():
        with tempfile.TemporaryDirectory(
            prefix="encrt_", ignore_cleanup_errors=True
        ) as d:
            src_df = spark.createDataFrame([(1, text)], "id string, txt string")
            from ..sinks.csv_sink import CsvSinkOptions

            CsvSink(
                folder=d, options=CsvSinkOptions(encoding=enc)
            ).write(src_df, "t")
            back = CsvSource(
                folder=d, options=CsvSourceOptions(encoding=enc)
            ).read(spark, "t").collect()
            got = back[0]["txt"] if back else None
            rows.append((enc, text, got == text))
    return spark.createDataFrame(
        rows, "encoding string, sample_text string, roundtrip_ok boolean"
    )


@register(
    "q_csv_timestamp_filename",
    # K1's timestamped single-file output (CSVDestinationWriter.cs:24-27
    # '"yyyyMMdd-HHmmss" + FFFFFFF'): the filename itself is
    # time-dependent, so the gate pins its SHAPE (.NET FFFFFFF omits
    # trailing zeros and the whole fraction when zero) and that the
    # file's CONTENT still scans back losslessly.
    oracle="""
    SELECT TRUE AS filename_shape_ok, TRUE AS single_file_ok,
           CAST(5 AS BIGINT) AS rows_back
    """,
    doc="K1 timestamped filenames, graded: one commit-renamed file per "
        "table named '{table}{yyyyMMdd-HHmmss}{FFFFFFF}.csv' with the "
        ".NET trailing-zero-omitting fraction, and the content scans "
        "back row-complete. The filename shape is the migration-visible "
        "contract downstream pickups glob on.",
    tags=("csv", "sink", "filename"),
)
def q_csv_timestamp_filename(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re

    from ..sinks.csv_sink import CsvSinkOptions

    with tempfile.TemporaryDirectory(
        prefix="tsname_", ignore_cleanup_errors=True
    ) as d:
        region = load_table(spark, sf_dir, "region")
        CsvSink(
            folder=d, options=CsvSinkOptions(include_timestamp_in_filename=True)
        ).write(region, "region")
        files = sorted(os.listdir(d))
        csvs = [f for f in files if f.endswith(".csv")]
        single = len(csvs) == 1
        # yyyyMMdd-HHmmss followed by 0-7 fraction digits with no
        # trailing zero (FFFFFFF), '.csv'
        shape = bool(
            csvs
            and re.fullmatch(
                r"region\d{8}-\d{6}([1-9]|\d{0,6}[1-9])?\.csv", csvs[0]
            )
        )
        n_back = (
            spark.read.options(sep=";", header=True)
            .csv(os.path.join(d, csvs[0]))
            .count()
            if csvs
            else -1
        )
    return spark.createDataFrame(
        [(bool(shape), bool(single), int(n_back))],
        "filename_shape_ok boolean, single_file_ok boolean, rows_back bigint",
    )
