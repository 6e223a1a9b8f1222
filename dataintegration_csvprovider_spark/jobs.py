"""Job orchestration (SURVEY.md §2.6): the engine's RunJob.

A JobSpec is the executable unit — source + destination + mappings
(CSVProvider.cs:543-601). Each active mapping with ≥1 column mapping
compiles to an independent DataFrame pipeline and writes its own output
(writer gate at CSVProvider.cs:556). Like the reference, ``run_job`` runs
the mappings one after another; where the reference pumps each mapping
row-at-a-time, here each is one Spark action whose scan is split across
the session's cores (``spark.sql.files.openCostInBytes`` in
:func:`~.session.get_spark` splits even a small file).

Config round-trips as JSON (the reference's XML round-trip, J3,
CSVProvider.cs:317-351,363-454, re-expressed without XML).
"""

from __future__ import annotations

import json
import logging
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from .plans.mapping_compiler import Mapping, compile_mapping
from .sinks.csv_sink import CsvSink, CsvSinkOptions
from .sources.csv_source import CsvSource, CsvSourceOptions

log = logging.getLogger(__name__)


@dataclass
class JobResult:
    """Structured outcome (the reference returns bool + log, E5)."""

    success: bool
    outputs: dict[str, str] = field(default_factory=dict)  # table -> path
    errors: list[str] = field(default_factory=list)
    deleted_sources: list[str] = field(default_factory=list)


@dataclass
class JobSpec:
    """Top-level executable unit: source + sink + mappings (+ params for
    conditional substitution, CSVProvider.cs:545)."""

    source: CsvSource
    destination: CsvSink
    mappings: list[Mapping] = field(default_factory=list)
    params: dict[str, object] = field(default_factory=dict)
    check_stability: bool = False  # S4 gate (LoadSettings, CSVProvider.cs:492-495)
    single_file_output: bool = True

    # -- J3 settings round-trip ------------------------------------------
    def to_json(self) -> str:
        return json.dumps(
            {
                "source": {
                    "folder": self.source.folder,
                    "file": self.source.file,
                    "options": self.source.options.to_dict(),
                },
                "destination": {
                    "folder": self.destination.folder,
                    "options": self.destination.options.to_dict(),
                },
                "mappings": [m.to_dict() for m in self.mappings],
                "params": self.params,
                "check_stability": self.check_stability,
                "single_file_output": self.single_file_output,
            },
            indent=2,
        )

    @classmethod
    def from_json(cls, s: str) -> "JobSpec":
        d = json.loads(s)
        return cls(
            source=CsvSource(
                folder=d["source"].get("folder"),
                file=d["source"].get("file"),
                options=CsvSourceOptions.from_dict(d["source"]["options"]),
            ),
            destination=CsvSink(
                folder=d["destination"]["folder"],
                options=CsvSinkOptions.from_dict(d["destination"]["options"]),
            ),
            mappings=[Mapping.from_dict(m) for m in d.get("mappings", [])],
            params=d.get("params", {}),
            check_stability=d.get("check_stability", False),
            single_file_output=d.get("single_file_output", True),
        )


def run_job(spark: SparkSession, job: JobSpec, stability_pause: float = 5.0) -> JobResult:
    """Execute every active mapping: scan → filter → project/transform →
    CSV sink. Validation raises before any Spark action (S5); job-level
    errors are captured, not thrown (E5, CSVProvider.cs:580-599);
    validation warnings are logged (CSVProvider.cs:274-277)."""
    for warning in job.source.validate():
        log.warning("%s", warning)
    if job.check_stability:
        job.source.check_source_files_changing(stability_pause)

    result = JobResult(success=True)
    for mapping in job.mappings:
        if not mapping.active or not mapping.active_column_mappings():
            continue  # writer gate (CSVProvider.cs:556)
        try:
            df = job.source.read(spark, mapping.source_table)
            out = compile_mapping(
                df,
                mapping,
                params=job.params,
                decimal_separator=job.source.options.decimal_separator,
            )
            path = job.destination.write(
                out, mapping.dest_table, single_file=job.single_file_output
            )
            result.outputs[mapping.dest_table] = path
        except Exception as e:  # noqa: BLE001 — E5 job-level capture
            result.success = False
            result.errors.append(f"{mapping.source_table}: {type(e).__name__}: {e}")

    if result.success and job.source.options.delete_source_files_after_job:
        result.deleted_sources = job.source.delete_source_files()  # S6
    return result
