"""CSV source semantics (SURVEY.md §2.1/§2.3/§2.5; fixtures per FIXTURES.md B)."""

from __future__ import annotations

import pytest

from pyspark.sql import types as T

from dataintegration_csvprovider_spark.sources.csv_source import (
    CsvSource,
    CsvSourceOptions,
    DuplicateHeaderError,
    SourceFilesChangingError,
    positional_column_name,
)


def _write(tmp_path, name, text, encoding="utf-8"):
    p = tmp_path / name
    p.write_text(text, encoding=encoding)
    return str(p)


def test_basic_header_all_string_schema(spark, tmp_path):
    # all columns inferred string (CSVProvider.cs:303); default ';' + '"'
    _write(tmp_path, "t.csv", 'id;name;amount\n1;"a";2.5\n2;"b";3.5\n')
    src = CsvSource(folder=str(tmp_path))
    schemas = src.infer_schema(spark)
    assert list(schemas) == ["t"]
    assert [f.name for f in schemas["t"].fields] == ["id", "name", "amount"]
    assert all(f.dataType.simpleString() == "string" for f in schemas["t"].fields)
    rows = src.read(spark, "t").collect()
    assert rows[0].asDict() == {"id": "1", "name": "a", "amount": "2.5"}


def test_no_header_positional_names(spark, tmp_path):
    # headerless → "Column 1..N", 1-based (CSVProvider.cs:292-295)
    _write(tmp_path, "t.csv", "1;a\n2;b\n")
    opts = CsvSourceOptions(first_row_contains_column_names=False)
    src = CsvSource(folder=str(tmp_path), options=opts)
    df = src.read(spark, "t")
    assert df.columns == ["Column 1", "Column 2"]
    assert df.count() == 2
    assert positional_column_name(0) == "Column 1"


def test_null_sentinel_decode(spark, tmp_path):
    # unquoted NULL → SQL null (CSVSourceReader.cs:221-223); quoted "NULL"
    # also parses to the bare text NULL → null (parser strips quotes first)
    _write(tmp_path, "t.csv", 'a;b\nNULL;"NULL"\nx;\n')
    src = CsvSource(folder=str(tmp_path))
    rows = src.read(spark, "t").collect()
    assert rows[0].a is None and rows[0].b is None
    assert rows[1].a == "x"


def test_quoted_header_containing_delimiter(spark, tmp_path):
    # a quoted header name may contain the delimiter or doubled quotes;
    # the header must be parsed with full quoting rules (CsvHelper-parsed
    # headers, CSVSourceReader.cs:245-250), not split on ';'
    _write(tmp_path, "t.csv", '"a;b";c;"say ""hi"""\n1;2;3\n4;5;6\n')
    src = CsvSource(folder=str(tmp_path))
    schemas = src.infer_schema(spark)
    assert [f.name for f in schemas["t"].fields] == ["a;b", "c", 'say "hi"']
    rows = src.read(spark, "t").collect()
    assert rows[0].asDict() == {"a;b": "1", "c": "2", 'say "hi"': "3"}
    # duplicate detection must also see through quoting: "a;b" twice is a dup
    _write(tmp_path, "u.csv", '"a;b";"a;b"\n1;2\n')
    with pytest.raises(DuplicateHeaderError, match="a;b"):
        CsvSource(folder=str(tmp_path)).read(spark, "u")


def test_duplicate_header_rejected(spark, tmp_path):
    # E3: repeated non-empty header names throw (CSVSourceReader.cs:245-273)
    _write(tmp_path, "t.csv", "id;name;name\n1;a;b\n")
    src = CsvSource(folder=str(tmp_path))
    with pytest.raises(DuplicateHeaderError, match="name"):
        src.read(spark, "t")
    # headerless mode is the suggested workaround and must succeed
    src2 = CsvSource(
        folder=str(tmp_path),
        options=CsvSourceOptions(first_row_contains_column_names=False),
    )
    assert src2.read(spark, "t").count() == 2


def test_whitespace_trimmed_at_scan(spark, tmp_path):
    # trim at scan (CSVSourceReader.cs:48)
    _write(tmp_path, "t.csv", "a;b\n  x  ; y\n")
    src = CsvSource(folder=str(tmp_path))
    r = src.read(spark, "t").collect()[0]
    assert r.a == "x" and r.b == "y"
    # ...and not when trim disabled
    src2 = CsvSource(folder=str(tmp_path), options=CsvSourceOptions(trim=False))
    r2 = src2.read(spark, "t").collect()[0]
    assert r2.a == "  x  "


def test_defective_rows_skip_and_failfast(spark, tmp_path):
    # E1: DROPMALFORMED with the flag on (CSVSourceReader.cs:64-68,168-199)
    _write(tmp_path, "t.csv", "a;b\n1;2\nonlyone\n3;4\n")
    ok = CsvSource(
        folder=str(tmp_path), options=CsvSourceOptions(ignore_defective_rows=True)
    )
    vals = [tuple(r) for r in ok.read(spark, "t").collect()]
    assert ("1", "2") in vals and ("3", "4") in vals
    assert len(vals) == 2
    # E2: FAILFAST raises without the flag
    strict = CsvSource(folder=str(tmp_path))
    with pytest.raises(Exception):
        strict.read(spark, "t").collect()


def test_defective_rows_audit_trail(spark, tmp_path):
    # PERMISSIVE audit variant: bad rows land in _corrupt_record
    _write(tmp_path, "t.csv", "a;b\n1;2\nonlyone\n")
    src = CsvSource(folder=str(tmp_path))
    df = src.read_with_audit(spark, "t")
    bad = df.filter(df["_corrupt_record"].isNotNull()).collect()
    assert len(bad) == 1 and bad[0]["_corrupt_record"] == "onlyone"


def test_multi_table_folder_discovery(spark, tmp_path):
    # S2: one table per top-level *.csv, named by basename
    _write(tmp_path, "cust.csv", "id\n1\n")
    _write(tmp_path, "ord.csv", "id\n2\n")
    _write(tmp_path, "notes.txt", "not a table")
    (tmp_path / "sub").mkdir()
    _write(tmp_path / "sub", "nested.csv", "id\n3\n")
    src = CsvSource(folder=str(tmp_path))
    assert src.tables() == ["cust", "ord"]
    # a selected file overrides the folder (CSVProvider.cs:478-485)
    src2 = CsvSource(folder=str(tmp_path), file=str(tmp_path / "cust.csv"))
    assert src2.tables() == ["cust"]
    assert src2.path_for_table("anything").endswith("cust.csv")


def test_malformed_file_dropped_from_schema(spark, tmp_path):
    # E4: undecodable file → table dropped, others survive
    _write(tmp_path, "good.csv", "id;v\n1;2\n")
    (tmp_path / "bad.csv").write_bytes(b"\xff\xfe\x00\x00garbage")
    src = CsvSource(folder=str(tmp_path))
    schemas = src.infer_schema(spark)
    assert "good" in schemas


def test_validation_errors(tmp_path):
    with pytest.raises(ValueError, match="no source"):
        CsvSource().validate()
    with pytest.raises(ValueError, match="not a .csv"):
        CsvSource(file=str(tmp_path / "x.txt")).validate()
    with pytest.raises(ValueError, match="does not exist"):
        CsvSource(file=str(tmp_path / "x.csv")).validate()
    with pytest.raises(ValueError, match="no .csv files"):
        CsvSource(folder=str(tmp_path)).validate()
    _write(tmp_path, "t.csv", "a\n1\n")
    assert CsvSource(folder=str(tmp_path)).validate() == []
    warnings = CsvSource(
        folder=str(tmp_path), file=str(tmp_path / "t.csv")
    ).validate()
    assert len(warnings) == 1  # both-set warning (CSVProvider.cs:274-277)


def test_stability_gate(tmp_path):
    f = _write(tmp_path, "t.csv", "a\n1\n")
    src = CsvSource(folder=str(tmp_path))
    src.check_source_files_changing(pause_sec=0.05)  # stable → no raise
    import threading

    def grow():
        with open(f, "a") as fh:
            fh.write("2\n")

    t = threading.Timer(0.05, grow)
    t.start()
    with pytest.raises(SourceFilesChangingError):
        src.check_source_files_changing(pause_sec=0.2)
    t.join()


def test_delete_source_files(tmp_path):
    _write(tmp_path, "t.csv", "a\n1\n")
    src = CsvSource(folder=str(tmp_path))
    deleted = src.delete_source_files()
    assert len(deleted) == 1 and not list(tmp_path.glob("*.csv"))


def test_encoding_variants(spark, tmp_path):
    # K1 encoding map: same content, multiple encodings
    for enc_label, enc in [("UTF-8", "utf-8"), ("UTF-16", "utf-16"),
                           ("Windows-1252", "cp1252")]:
        d = tmp_path / enc_label
        d.mkdir()
        (d / "t.csv").write_text("a;b\ncafé;naïve\n", encoding=enc)
        src = CsvSource(folder=str(d), options=CsvSourceOptions(encoding=enc_label))
        r = src.read(spark, "t").collect()[0]
        assert (r.a, r.b) == ("café", "naïve"), enc_label


def test_audit_read_sets_legacy_charset_gate(spark, tmp_path):
    # a session without the legacy charset gate (a plain builder's
    # default) must still audit-read a Windows-1252 table: every reader
    # of the source sets the gate for a legacy charset, not only read()
    key = "spark.sql.legacy.javaCharsets"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        (tmp_path / "t.csv").write_text(
            "a;b\ncafé;naïve\nonlyone\n", encoding="cp1252"
        )
        src = CsvSource(
            folder=str(tmp_path), options=CsvSourceOptions(encoding="Windows-1252")
        )
        rows = src.read_with_audit(spark, "t").collect()
    finally:
        spark.conf.set(key, saved)
    assert [(r.a, r.b) for r in rows if r["_corrupt_record"] is None] == [
        ("café", "naïve")
    ]
    assert [r["_corrupt_record"] for r in rows if r["_corrupt_record"]] == ["onlyone"]


def test_utf8_bom_header_not_polluted(spark, tmp_path):
    # Python's utf-8 codec keeps U+FEFF; the header inspector must strip
    # it or the first column is named '﻿"id' with broken quoting
    from dataintegration_csvprovider_spark.sources.csv_source import CsvSource

    p = tmp_path / "t.csv"
    p.write_bytes(b'\xef\xbb\xbf"id";"name"\r\n"1";"alice"\r\n"2";"bob"\r\n')
    src = CsvSource(folder=str(tmp_path))
    df = src.read(spark, "t")
    assert df.columns == ["id", "name"]
    assert {(r.id, r.name) for r in df.collect()} == {
        ("1", "alice"),
        ("2", "bob"),
    }


def test_multiline_quoted_newlines_read(spark, tmp_path):
    """multi_line=True reads quoted embedded newlines as one record (the
    reference's CsvHelper does this natively; Spark needs the whole-file
    parser — non-splittable, hence an explicit fidelity knob)."""
    p = tmp_path / "ml.csv"
    p.write_text('a;b\n"line1\nline2";x\nplain;y\n', encoding="utf-8")
    src = CsvSource(
        file=str(p), options=CsvSourceOptions(multi_line=True)
    )
    rows = {
        (r["a"], r["b"]) for r in src.read(spark, "ml").collect()
    }
    assert rows == {("line1\nline2", "x"), ("plain", "y")}


def test_multichar_delimiter_roundtrip(spark, tmp_path):
    """Multi-char delimiters parse (CsvHelper's delimiter is a string;
    Spark's sep accepts multi-char since 3.0)."""
    p = tmp_path / "mc.csv"
    p.write_text("a||b||c\n1||x y||3\n4|| z||6\n", encoding="utf-8")
    src = CsvSource(file=str(p), options=CsvSourceOptions(delimiter="||"))
    rows = {
        tuple(r) for r in src.read(spark, "mc").collect()
    }
    # trim-at-scan applies to each field (reference TrimOptions.Trim)
    assert rows == {("1", "x y", "3"), ("4", "z", "6")}


def test_multichar_delimiter_quoted_header():
    """Quote-aware multi-char split: quoted header names may contain the
    delimiter or doubled quotes."""
    from dataintegration_csvprovider_spark.sources.csv_source import (
        _split_quoted,
    )

    assert _split_quoted('a||"b||c"||"d""e"', "||", '"') == [
        "a", "b||c", 'd"e'
    ]
    assert _split_quoted("x", "||", '"') == ["x"]
    assert _split_quoted("", "||", '"') == [""]


def test_persisted_schema_wins_over_inference(spark, tmp_path):
    # reference: SchemaIsEditable=true; the user-edited schema is
    # persisted and wins over header inference on the next run
    # (CSVProvider.cs:150-153, Schema restore :389-391)
    p = tmp_path / "t.csv"
    p.write_text('"id";"amount"\n"1";"2.5"\n"2";"3.5"\n')
    src = CsvSource(folder=str(tmp_path))
    # before any save: all-string inference
    df = src.read(spark, "t")
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "string",
        "string",
    ]
    # user edits: rename + retype, then persist
    edited = T.StructType(
        [
            T.StructField("order_id", T.IntegerType(), True),
            T.StructField("amount_dkk", T.DoubleType(), True),
        ]
    )
    side = src.save_schema("t", edited)
    assert side.endswith("t.csv.schema.json")
    # same read call now binds the edited schema by ordinal
    df2 = src.read(spark, "t")
    assert df2.schema == edited
    rows = sorted((r.order_id, r.amount_dkk) for r in df2.collect())
    assert rows == [(1, 2.5), (2, 3.5)]
    # round-trip through a fresh source object (persistence, not state)
    src2 = CsvSource(folder=str(tmp_path))
    assert src2.load_saved_schema("t") == edited
    assert src2.read(spark, "t").schema == edited
    # explicit argument still outranks the side-file
    explicit = T.StructType([T.StructField("a", T.StringType(), True),
                             T.StructField("b", T.StringType(), True)])
    assert src2.read(spark, "t", schema=explicit).schema == explicit
    # original (inference) view is still reachable, like
    # GetOriginalSourceSchema vs GetSchema in the reference
    orig = src2.original_schema(spark, "t")
    assert [f.name for f in orig.fields] == ["id", "amount"]
