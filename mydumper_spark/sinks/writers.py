"""Sinks (SURVEY §2.2 K1-K6).

Reference behaviors re-expressed on DataFrame writers:
- K1 SQL-INSERT writer with statement-size batching
  (/root/reference/src/mydumper/mydumper_write.c:458-479, 874-1032)
- K2 CSV writer with fields-terminated/enclosed/escaped, lines-terminated,
  header (mydumper_write.c:324-365, 652-673, 582-595)
- K3 LOAD-DATA writer: .dat payload + sibling .sql LOAD DATA statement
  (mydumper_write.c:515-547, 618-628)
- K5 file-size-bounded rotation (mydumper_write.c:992-1001) →
  ``maxRecordsPerFile`` (Spark's bound is records, not bytes; callers derive
  records from target_bytes / avg_row_bytes — same knob the reference's
  ``--chunk-filesize`` provides)
- K6 compression pipe (fork gzip/zstd, mydumper_file_handler.c:221-260) →
  built-in ``compression`` codec option

Primary sink is Parquet (columnar, splittable, stats-bearing — what a 100 TB
export actually wants); CSV/LOAD-DATA/INSERT sinks exist for reference
format parity and DB restore.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class CsvFormat:
    """The reference's CSV/LOAD-DATA dialect surface (mydumper_write.c:324-365):
    defaults match its LOAD DATA format (tab-separated would be mysqldump;
    the reference uses comma + double-quote enclosure for --csv)."""

    fields_terminated_by: str = ","
    fields_enclosed_by: str = '"'
    fields_escaped_by: str = "\\"
    lines_terminated_by: str = "\n"
    header: bool = False
    null_value: str = "\\N"  # mydumper_write.c:654-655 (LOAD DATA NULL form)
    compression: str | None = None  # None|gzip|zstd (K6)
    #: backslash-double string DATA on write (the reference's LOAD-DATA
    #: escape convention, mydumper_write.c m_escape): a literal value
    #: equal to the NULL sentinel ('\N' text) stays distinguishable from
    #: SQL NULL — the csv reader null-substitutes AFTER unquoting, so no
    #: quoting scheme alone can preserve it. Readers halve the doubling
    #: back. False = the legacy raw form; manifests written before this
    #: field exist read as False (read_dumped_table defaults the missing
    #: key), so old dumps keep their bytes' meaning.
    escaped_data: bool = True
    #: genuine mydumper --load-data payloads backslash-escape control
    #: bytes IN the data (m_escape: \n \r \t \0 \b \Z \\) and MySQL's
    #: LOAD DATA decodes them on load — Spark's csv escape option only
    #: unquotes, it never decodes control sequences. True (set by
    #: import_mydumper_dir's dialect recovery) applies the LOAD DATA
    #: decode after the typed read. Mutually exclusive with
    #: escaped_data (ours is a quoting convention, this is MySQL's).
    load_data_escapes: bool = False
    #: mydumper --lines-starting-by: every written row opens with this
    #: prefix (mydumper_write.c:775) and the LOAD DATA statement records
    #: ``LINES STARTING BY``. MySQL's read rule (ours too): skip
    #: everything up to AND including the prefix; a line without it is
    #: skipped entirely. Intake-only — the Spark csv writer cannot
    #: prepend per-line prefixes, so writes reject it loudly.
    lines_starting_by: str = ""


def csvformat_from_recorded_dialect(dialect: dict | None) -> CsvFormat:
    """Recorded-manifest dialect → CsvFormat, forward-compatibly — THE
    one implementation of the rule (read_dumped_table's .dat branches
    and dump_reader's convention-based read both call it): keep only
    keys THIS version's CsvFormat declares (a NEWER writer may have
    recorded extra dialect fields, and a TypeError would turn a
    best-effort restore/verify read into a crash), and default a
    missing ``escaped_data`` to the LEGACY raw form — the dataclass
    default is for NEW writes; applying it to an old manifest would
    silently halve every consecutive backslash pair."""
    import dataclasses

    known = {f.name for f in dataclasses.fields(CsvFormat)}
    kept = {k: v for k, v in (dialect or {}).items() if k in known}
    return CsvFormat(**{"escaped_data": False, **kept})


def _escape_string_data(df: DataFrame) -> DataFrame:
    """Backslash-double every string column (NULLs stay NULL — the writer
    emits the sentinel for them). Scan-side codegen, zero shuffles."""
    from pyspark.sql import types as T

    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, T.StringType):
            c = F.replace(c, F.lit("\\"), F.lit("\\\\")).alias(f.name)
        cols.append(c)
    return df.select(*cols)


def unescape_string_data(df: DataFrame) -> DataFrame:
    """Inverse of :func:`_escape_string_data` after a typed csv read."""
    from pyspark.sql import types as T

    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, T.StringType):
            c = F.replace(c, F.lit("\\\\"), F.lit("\\")).alias(f.name)
        cols.append(c)
    return df.select(*cols)


def _read_load_data_payload(spark, path, schema, fmt: CsvFormat):
    """Typed read of a genuine --load-data/--csv payload, escape
    semantics owned END-TO-END. Spark's csv tokenizer cannot read this
    convention: with no enclosure an embedded field terminator is
    escaped as ``<esc><terminator-byte>`` (m_escape_char_with_char,
    mydumper_write.c:668) and the raw byte still splits the field; with
    an enclosure, univocity's own escape handling collapses ``\\\\``
    BEFORE our decode sees it, making a literal backslash-before-n
    indistinguishable from an encoded newline (double-decode — the
    round-12 review's live repro). So: read text lines on the line
    terminator, park the escape pairs on NUL-prefixed sentinels (raw
    NUL cannot appear — the writer escaped it to ``\\0``), split on the
    now-unambiguous terminator, strip the enclosure (the writer wraps
    non-numeric fields only; the strip requires BOTH ends), decode the
    mysql_real_escape two-char sequences, restore the sentinels LAST so
    decoded bytes can never re-fire, and cast to the schema. All
    scan-side codegen.

    ``ESCAPED BY ''`` (escaping explicitly off) skips parking and
    decode entirely — decoding sequences that were never written is
    corruption. The NULL sentinel stays the literal two bytes ``\\N``
    either way: the writer emits it unconditionally
    (write_load_data_column_into_string, mydumper_write.c:656)."""
    from pyspark.sql import types as T

    if isinstance(schema, str):  # DDL-string schema, like spark.read
        schema = T.StructType.fromDDL(schema)
    esc = fmt.fields_escaped_by
    term = fmt.fields_terminated_by
    quote = fmt.fields_enclosed_by
    lines = (spark.read.option("lineSep", fmt.lines_terminated_by)
             .text(path))
    sb = getattr(fmt, "lines_starting_by", "") or ""
    if sb:
        # MySQL's LINES STARTING BY rule: skip everything up to AND
        # including the prefix; a line without the prefix is skipped
        # ENTIRELY (the refman-documented semantics the writer's
        # per-row prefix, mydumper_write.c:775, round-trips through)
        pos = F.locate(sb, F.col("value"))
        lines = lines.where(pos > 0).select(
            F.col("value").substr(pos + len(sb),
                                  F.length("value")).alias("value"))
    if getattr(fmt, "header", False):
        # --include-header dumps (IGNORE 1 LINES): the reference writes
        # one deterministic header line per chunk file — every column
        # name enclosed, terminator-joined (initialize_load_data_header,
        # mydumper_write.c:582-595) — and there is no per-file
        # first-line primitive in a distributed text scan, so drop lines
        # EQUAL to the reconstructed header. A data row would have to
        # reproduce the entire header byte-for-byte to be lost — a
        # documented fidelity bound of the intake.
        hdr = term.join(f"{quote}{f.name}{quote}" for f in schema.fields)
        lines = lines.filter(F.col("value") != F.lit(hdr))
    c = F.col("value")
    if esc:
        # the reference escapes only the terminator's FIRST byte
        # (m_escape_char_with_char(*fields_terminated_by, …),
        # mydumper_write.c:668) — a multi-char --fields-terminated-by
        # still writes esc+term[0] per embedded occurrence, so parking
        # the full terminator string would never match
        c = F.replace(c, F.lit(esc + esc), F.lit("\x00P"))
        c = F.replace(c, F.lit(esc + term[0]), F.lit("\x00T"))
    import re as _re

    fields = F.split(c, _re.escape(term), -1)
    cols = []
    for i, fld in enumerate(schema.fields):
        v = F.element_at(fields, i + 1)
        # the NULL sentinel: the writer's unconditional literal \N
        v = F.when(v == F.lit("\\N"),
                   F.lit(None).cast("string")).otherwise(v)
        if quote:
            # strip the enclosure pair (numeric/hex fields go unwrapped
            # — both-ends check leaves them alone); inner quote bytes
            # are still escaped at this point, so the ends are the pair
            v = F.when(
                (F.length(v) >= 2) & v.startswith(quote)
                & v.endswith(quote),
                v.substr(F.lit(2), F.length(v) - 2)).otherwise(v)
        if esc:
            for src, dst in ((esc + "n", "\n"), (esc + "r", "\r"),
                             (esc + "t", "\t"), (esc + "'", "'"),
                             (esc + '"', '"')):
                v = F.replace(v, F.lit(src), F.lit(dst))
            # the rest of mysql_real_escape_string's alphabet
            # (mydumper_write.c:665-668): \0 \b \Z. These decode to their
            # own NUL-prefixed sentinels first (safe for the same reason
            # \x00T/\x00P are: no raw NUL exists in the parked string) —
            # decoding \0 straight to a raw NUL here would let a decoded
            # byte re-fire the \x00T/\x00P restores below.
            for src, dst in ((esc + "0", "\x00N"), (esc + "b", "\x00B"),
                             (esc + "Z", "\x00S")):
                v = F.replace(v, F.lit(src), F.lit(dst))
            v = F.replace(v, F.lit("\x00T"), F.lit(term[0]))
            v = F.replace(v, F.lit("\x00P"), F.lit(esc))
            # restore the control-byte sentinels after \x00T/\x00P so a
            # restored terminator/escape byte can't combine with a NUL; the
            # NUL restore itself goes LAST of all — once raw NULs exist, no
            # later replace may search a NUL-prefixed pattern (a decoded
            # "\x00" followed by a literal 'B' must NOT read as \x00B)
            v = F.replace(v, F.lit("\x00B"), F.lit("\b"))
            v = F.replace(v, F.lit("\x00S"), F.lit("\x1a"))
            v = F.replace(v, F.lit("\x00N"), F.lit("\x00"))
        if isinstance(fld.dataType, T.BinaryType):
            # blobs travel as bare hex (mysql_hex_string, no 0x prefix)
            v = F.unhex(v)
        else:
            v = v.cast(fld.dataType)
        cols.append(v.alias(fld.name))
    return lines.select(*cols)


def read_csv_typed(spark, path, schema, fmt: "CsvFormat | None" = None):
    """The ONE way back from a dialected csv/.dat dump: typed read with the
    recorded dialect, multiLine on (the writer quotes embedded line
    terminators; without multiLine the reader splits such rows — silent
    corruption), whitespace preservation, and the escaped-data inverse
    when the dialect says the writer doubled backslashes. multiLine makes
    each FILE single-split; rotation (K5) already bounds file sizes, so
    parallelism comes from file count — the same trade the reference
    makes with one LOAD DATA per file.

    A genuine --load-data/--csv dialect with ESCAPING active
    (``load_data_escapes`` + non-empty escape char) routes to
    :func:`_read_load_data_payload` — the csv tokenizer cannot honor
    the escape-the-terminator convention, and with an enclosure its own
    escape handling double-decodes. An escapes-OFF enclosed dialect
    (``ESCAPED BY ''`` + quotes) stays on the csv tokenizer: there the
    quotes alone protect embedded terminators and nothing was escaped."""
    fmt = fmt or CsvFormat()
    if getattr(fmt, "load_data_escapes", False) \
            and getattr(fmt, "lines_starting_by", "") \
            and not fmt.fields_escaped_by and fmt.fields_enclosed_by:
        # STARTING BY needs the line-splitting payload reader (the csv
        # tokenizer cannot strip a per-line prefix), but with escaping
        # OFF an enclosed field's embedded raw line terminator is
        # protected ONLY by the multiLine tokenizer — the two needs are
        # irreconcilable, and a line-split read would silently drop the
        # prefix-less continuation fragment. Refuse rather than corrupt.
        raise ValueError(
            "LINES STARTING BY with ESCAPED BY '' and an enclosure "
            "cannot be read safely: the prefix strip needs line-based "
            "reading, which raw embedded line terminators inside "
            "quotes (nothing escapes them in this dialect) break")
    if getattr(fmt, "load_data_escapes", False) \
            and (fmt.fields_escaped_by or not fmt.fields_enclosed_by
                 or getattr(fmt, "lines_starting_by", "")):
        # the third arm: Spark's csv tokenizer has no STARTING BY —
        # the payload reader strips the per-line prefix scan-side
        return _read_load_data_payload(spark, path, schema, fmt)
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    out = (
        r.option("sep", fmt.fields_terminated_by)
        .option("quote", fmt.fields_enclosed_by)
        .option("escape", fmt.fields_escaped_by)
        .option("lineSep", fmt.lines_terminated_by)
        .option("header", str(fmt.header).lower())
        .option("nullValue", fmt.null_value)
        .option("multiLine", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path)
    )
    if fmt.escaped_data:
        return unescape_string_data(out)
    # the only load_data_escapes dialect that reaches this branch is
    # escapes-OFF enclosed (ESCAPED BY '' + quotes — everything else
    # routed to _read_load_data_payload above): nothing was escaped on
    # write, so nothing decodes — a control-sequence decode here would
    # turn a literal two-byte '\n' into a real newline, matching
    # neither the writer nor _read_load_data_payload's escapes-off arm
    return out


def csvformat_from_load_data(stmt: str) -> CsvFormat:
    """Recover the dialect a genuine mydumper ``--load-data``/``--csv``
    dump used, from the LOAD DATA statement it wrote next to each .dat
    chunk (build_load_data_statement, mydumper_write.c:515-547) — the
    intake inverse of :func:`write_load_data`. Clauses not present fall
    back to the reference's LOAD_DATA defaults (tab-separated, no
    enclosure, backslash escape, newline lines — mydumper_write.c:283-
    312). Genuine payloads are raw csv-escaped bytes, never our
    escaped_data doubling convention, so that stays False."""
    import re as _re

    def _unesc(s: str) -> str:
        return (s.replace("\\\\", "\x00").replace("\\t", "\t")
                 .replace("\\n", "\n").replace("\\r", "\r")
                 .replace("\\'", "'").replace("\x00", "\\"))

    def clause(pattern: str, default: str) -> str:
        m = _re.search(pattern + r"\s+'((?:[^'\\]|\\.)*)'", stmt,
                       _re.IGNORECASE)
        return _unesc(m.group(1)) if m else default

    # --include-header dumps append IGNORE 1 LINES (mydumper_write.c:
    # 531-532): each chunk's first line is column names, not data —
    # ingesting it silently mints a bogus row per chunk (string columns
    # get the names, numerics cast NULL). The reference only ever emits
    # 1; any other count is a foreign statement we cannot honor.
    ign = _re.search(r"IGNORE\s+(\d+)\s+LINES", stmt, _re.IGNORECASE)
    if ign and ign.group(1) != "1":
        raise ValueError(
            f"LOAD DATA statement asks IGNORE {ign.group(1)} LINES — "
            "only the reference's IGNORE 1 LINES header form is "
            "supported")

    return CsvFormat(
        header=bool(ign),
        fields_terminated_by=clause(r"FIELDS\s+TERMINATED\s+BY", "\t"),
        fields_enclosed_by=clause(r"ENCLOSED\s+BY", ""),
        fields_escaped_by=clause(r"ESCAPED\s+BY", "\\"),
        # --lines-starting-by: the reference prepends this to EVERY row
        # (mydumper_write.c:775) — without recovering it the prefix
        # would silently corrupt the first field of every row
        lines_starting_by=clause(r"LINES\s+STARTING\s+BY", ""),
        lines_terminated_by=clause(r"LINES(?:\s+STARTING\s+BY\s+"
                                   r"'(?:[^'\\]|\\.)*')?\s+TERMINATED\s+BY",
                                   "\n"),
        escaped_data=False,
        load_data_escapes=True,
    )


def write_csv(
    df: DataFrame,
    path: str,
    fmt: CsvFormat | None = None,
    max_records_per_file: int | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """K2 + K5 + K6."""
    fmt = fmt or CsvFormat()
    if getattr(fmt, "lines_starting_by", ""):
        raise ValueError(
            "lines_starting_by is intake-only: Spark's csv writer "
            "cannot prepend per-line prefixes, and writing a statement "
            "that promises STARTING BY over a payload without it would "
            "make MySQL skip every line")
    if fmt.escaped_data:
        df = _escape_string_data(df)
    w = (
        df.write.mode("overwrite")
        .option("sep", fmt.fields_terminated_by)
        .option("quote", fmt.fields_enclosed_by)
        .option("escape", fmt.fields_escaped_by)
        .option("lineSep", fmt.lines_terminated_by)
        .option("header", str(fmt.header).lower())
        .option("nullValue", fmt.null_value)
        .option("emptyValue", '""')  # '' vs NULL distinction (write.c:681-683)
        # univocity TRIMS whitespace on write by default — ' pad ' would
        # silently round-trip as 'pad'
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
    )
    if fmt.compression:
        w = w.option("compression", fmt.compression)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    max_records_per_file: int | None = None,
    partition_by: list[str] | None = None,
    compression: str = "zstd",
) -> None:
    """Primary sink. zstd default mirrors the reference's preferred codec
    (mydumper_arguments: --compress defaults to zstd when available)."""
    w = df.write.mode("overwrite").option("compression", compression)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    max_records_per_file: int | None = None,
    compression: str | None = None,
) -> None:
    """JSONL sink — the interchange format of training-corpus tooling
    (one JSON object per line). Same K5 rotation and K6 compression knobs
    as the CSV writer; Spark's JSON source reads it back schema-typed."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.json(path)


def write_orc(
    df: DataFrame,
    path: str,
    max_records_per_file: int | None = None,
    compression: str = "zstd",
) -> None:
    """ORC sink — the columnar alternative for Hive/Trino-centric
    consumers; self-describing types (no sidecar needed), same K5
    rotation and K6 compression knobs as parquet."""
    w = df.write.mode("overwrite").option("compression", compression)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.orc(path)


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    max_records_per_file: int | None = None,
) -> None:
    """Range-clustered parquet — the scan-pruning layout.

    ``repartitionByRange`` gives each output file a disjoint key range, and
    the within-partition sort tightens every row group's min/max stats; a
    range predicate on ``sort_cols`` then skips whole row groups at read
    time (footer-only reads for non-matching files) and matching rows sit
    in a handful of files instead of all of them. At 100 TB that is the
    difference between decoding a key-clustered 1/Nth of the table and
    decoding all of it (`test_sorted_write_range_clustering` pins pushdown
    + locality; planning-time FILE pruning additionally needs hive
    partitioning — the S7 surface). One shuffle at write time, amortized
    over every read thereafter."""
    w = (
        df.repartitionByRange(*[F.col(c) for c in sort_cols])
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
    )
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed managed table — the co-located-join layout.

    Two tables bucketed on the same keys with the same bucket count join
    WITHOUT an exchange on either side (Catalyst recognizes the matching
    hash distribution): at 100 TB this turns every fact⋈fact join on the
    bucketing key from a full dual shuffle into a zip of pre-sorted buckets.
    ``sortBy`` additionally pre-orders within buckets so the join degrades
    to a streaming merge. (Spark requires saveAsTable for bucket metadata —
    the bucket spec lives in the catalog, not the files.)"""
    w = df.write.mode("overwrite").format("parquet").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def records_per_file_for_bytes(df: DataFrame, target_bytes: int, sample_rows: int = 1000) -> int:
    """Translate the reference's --chunk-filesize (bytes) into Spark's
    maxRecordsPerFile (records) via a sampled average row width."""
    sample = df.limit(sample_rows)
    n = sample.count()
    if n == 0:
        return 1_000_000
    avg = (
        sample.select(
            F.avg(F.length(F.concat_ws(",", *[F.col(c).cast("string") for c in df.columns])))
        ).first()[0]
        or 100.0
    )
    return max(1, math.floor(target_bytes / (avg + 1)))


def _sql_literal(col, dtype: str):
    """Render a column as a SQL literal — the reference's quoting matrix
    (mydumper_write.c:676-706): numerics raw, NULL literal, strings escaped
    and quoted, binary hex (--hex-blob), dates/timestamps quoted.

    String escaping mirrors mysql_real_escape_string (backslash, quote,
    NUL, newline, CR, ctrl-Z) — which also guarantees one statement/tuple
    never spans a physical line, the invariant the line-parallel INSERT
    parser (sources/insert_parser.py) relies on."""
    c = F.col(col)
    if dtype.startswith("decimal") or dtype in (
        "tinyint", "smallint", "int", "bigint", "float", "double", "boolean"
    ):
        return F.when(c.isNull(), F.lit("NULL")).otherwise(c.cast("string"))
    if dtype == "binary":
        return F.when(c.isNull(), F.lit("NULL")).otherwise(F.concat(F.lit("0x"), F.hex(c)))
    s = c.cast("string")
    for pat, rep in (
        (r"\\", r"\\\\"),
        ("'", r"\\'"),
        ("\x00", r"\\0"),
        ("\n", r"\\n"),
        ("\r", r"\\r"),
        ("\x1a", r"\\Z"),
    ):
        s = F.regexp_replace(s, pat, rep)
    quoted = F.concat(F.lit("'"), s, F.lit("'"))
    return F.when(c.isNull(), F.lit("NULL")).otherwise(quoted)


def insert_statements_stream(
    df: DataFrame,
    table: str,
    rows_per_statement: int = 1000,
    complete_insert: bool = False,
    insert_mode: str = "INSERT",
    statement_size: int | None = None,
) -> DataFrame:
    """K1: render rows into multi-row INSERT statements with NO shuffle
    and preserved partition order.

    A ``groupBy``-per-statement assembly would exchange every rendered
    byte, and its ``collect_list`` forfeits row order, which breaks
    ``-k/--order-by-primary`` (the reference sorts rows *within* each
    file, mydumper_write.c:1055). Here the tuples are rendered JVM-side
    (the ``_sql_literal`` matrix) and only the cheap string
    *concatenation* runs in Arrow-batched ``mapInPandas``, carrying state
    across batches within a partition: zero exchange, order intact.
    Identifiers are backtick-quoted with embedded backticks doubled.

    ``statement_size`` caps statements by BYTES — the reference's exact
    ``-s/--statement-size`` semantics (mydumper_write.c checks the byte
    budget before appending each tuple; at least one tuple always goes in).
    ``rows_per_statement`` caps by row count; both caps apply when both
    are set."""
    import pandas as pd

    value_cols = [_sql_literal(c, t) for c, t in df.dtypes]
    tuple_col = F.concat(F.lit("("), F.concat_ws(",", *value_cols), F.lit(")"))
    rendered = df.select(tuple_col.alias("vals"))

    def bt(name: str) -> str:  # MySQL identifier quoting: ` doubles to ``
        return "`" + name.replace("`", "``") + "`"

    cols_clause = (
        " (" + ",".join(bt(c) for c in df.columns) + ")"
        if complete_insert else ""
    )
    prefix = f"{insert_mode} INTO {bt(table)}{cols_clause} VALUES "
    prefix_b = len(prefix.encode("utf-8"))  # non-ASCII table/column names
    byte_cap = statement_size if statement_size and statement_size > 0 else None
    row_cap = max(1, int(rows_per_statement))

    def assemble(batches):
        # per-partition state: tuples pending for the open statement
        pend: list[str] = []
        pend_bytes = prefix_b

        def flush():
            nonlocal pend, pend_bytes
            stmt = prefix + ",".join(pend) + ";"
            pend, pend_bytes = [], prefix_b
            return stmt

        for pdf in batches:
            out: list[str] = []
            for v in pdf["vals"]:
                vb = len(v.encode("utf-8", "surrogatepass")) + 1
                if pend and (
                    len(pend) >= row_cap
                    or (byte_cap is not None and pend_bytes + vb > byte_cap)
                ):
                    out.append(flush())
                pend.append(v)
                pend_bytes += vb
            if out:
                yield pd.DataFrame({"statement": out})
        if pend:
            yield pd.DataFrame({"statement": [flush()]})

    return rendered.mapInPandas(assemble, schema="statement string")


def write_load_data(
    df: DataFrame,
    root: str,
    table: str,
    fmt: CsvFormat | None = None,
    max_records_per_file: int | None = None,
    dialect: str = "mysql",
) -> str:
    """K3/K4: .dat payload dir + sibling load-statement file, mirroring
    ``build_load_data_statement`` (mydumper_write.c:515-547). ``dialect=
    "clickhouse"`` emits the K4 shape instead: ``INSERT INTO t FROM INFILE
    '…' FORMAT CSV`` (mydumper_write.c:549-580, 630-640).

    Escaping note: the default ``CsvFormat.escaped_data`` backslash-
    doubling matches MySQL's ``ESCAPED BY '\\\\'`` intake exactly (the
    server halves it back on LOAD). ClickHouse ``FORMAT CSV`` has NO
    backslash-escape semantics — pass ``CsvFormat(escaped_data=False)``
    with ``dialect="clickhouse"`` (doubling is forced off below for the
    K4 dialect so the emitted statement and payload always agree)."""
    fmt = fmt or CsvFormat()
    if dialect == "clickhouse" and fmt.escaped_data:
        from dataclasses import replace as _dc_replace

        fmt = _dc_replace(fmt, escaped_data=False)
    data_path = os.path.join(root, f"{table}.dat")
    write_csv(df, data_path, fmt, max_records_per_file)
    # One statement per part file: MySQL/ClickHouse do not glob inside
    # INFILE paths, and the reference likewise emits one LOAD DATA per data
    # file (build_load_data_statement) — so the .sql must enumerate.
    parts = sorted(
        os.path.join(data_path, f)
        for f in os.listdir(data_path)
        if f.startswith("part-") and not f.endswith(".crc")
    )
    stmts = []
    for p in parts:
        if dialect == "clickhouse":
            stmts.append(f"INSERT INTO `{table}` FROM INFILE '{p}' FORMAT CSV;")
        else:
            enc = fmt.fields_enclosed_by.replace("'", "\\'")
            esc = fmt.fields_escaped_by.replace("\\", "\\\\")
            stmts.append(
                f"LOAD DATA LOCAL INFILE '{p}' REPLACE INTO TABLE `{table}` "
                f"CHARACTER SET utf8mb4 FIELDS TERMINATED BY '{fmt.fields_terminated_by}' "
                f"ENCLOSED BY '{enc}' ESCAPED BY '{esc}' "
                f"LINES TERMINATED BY '{repr(fmt.lines_terminated_by)[1:-1]}' "
                # header=True writes column names atop every part file;
                # without IGNORE 1 LINES (the reference's
                # --include-header clause, mydumper_write.c:531-532) a
                # MySQL load would ingest that line as a data row
                + ("IGNORE 1 LINES " if fmt.header else "")
                + f"({','.join('`' + c + '`' for c in df.columns)});"
            )
    sql_path = os.path.join(root, f"{table}.sql")
    with open(sql_path, "w") as f:
        f.write("\n".join(stmts) + "\n")
    return sql_path
