"""Source readers: CSV (plain/gzip) and Parquet directories → normalized
DataFrames with a canonical ``__timestamp`` epoch-ms axis.

Replaces the reference's imperative per-file machinery
(/root/reference/timeseriesfuser/datasources.py:97-440): Spark reads a whole
directory glob in one scan (mixed .csv/.csv.gz handled natively, so the
compression autodetect at datasources.py:320-337 is unnecessary), schema is
enforced by the reader, and global ordering comes from the engine's sort —
filename sort keys (datasources.py:189-212) are irrelevant.

Normalization per source (reference core.py:320-351, 942-970):
  1. drop ``remove_cols``;
  2. convert the timestamp column to epoch-ms LongType ``__timestamp``
     (user ``ts_converter`` Column->Column if given, preserving the original
     as ``__{ts_col}``; native TimestampType via ``unix_millis``; numerics
     cast to long);
  3. tag ``__src_id`` (≈ exsym_lookup, core.py:134-143,340) and a
     per-source arrival sequence ``__seq`` for deterministic tie-breaking
     (SURVEY.md §4.3: Spark's sort is not stable).

Building a local parquet or declared-schema CSV source starts no Spark
job: parquet scans take their schema from the footers the driver reads
anyway (``_footer_schema``) instead of Spark's inference job, and the
window probe reads each source's first and last record on the driver
(:func:`probe_source_window`).
"""

from __future__ import annotations

import io
import os
import re
from contextlib import contextmanager
from dataclasses import replace
from typing import Callable, Dict, Iterator, List, Mapping, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from timeseriesfuser_spark.config import SourceConfig, normalize_schema
from timeseriesfuser_spark.timeutils import ts_epoch_ms_col

TS_COL = "__timestamp"
SRC_ID_COL = "__src_id"
SEQ_COL = "__seq"
INTERNAL_COLS = (TS_COL, SRC_ID_COL, SEQ_COL)

_TRIM = "".join(map(chr, range(33)))  # what Java's String.trim() strips
_EOL = re.compile(rb"\r\n|\r|\n")  # line ends, as Hadoop's line reader splits
_CHUNK = 1 << 20


def _cast_to_declared(df: DataFrame, declared: T.StructType) -> DataFrame:
    """Cast-through semantics ≈ ParquetSrc force_schema
    (datasources.py:369-396)."""
    by_name = {f.name: f.dataType for f in declared.fields}
    return df.select(
        *[
            F.col(c).cast(by_name[c]).alias(c) if c in by_name else F.col(c)
            for c in df.columns
        ]
    )


def _declared(src: SourceConfig, names: Callable[[], List[str]]) -> Optional[T.StructType]:
    """The source's declared schema. A positional type list takes its
    column names from ``src.columns``, else from ``names()`` (the first
    file's header or footer)."""
    positional = not (
        src.schema is None or hasattr(src.schema, "fields") or hasattr(src.schema, "items")
    )
    return normalize_schema(
        src.schema, names() if positional and src.columns is None else src.columns
    )


def _footer(path: str):
    """One parquet footer: (``FileMetaData``, its Arrow schema)."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    return md, md.schema.to_arrow_schema()


def _footer_schema(spark: SparkSession, footers) -> Optional[T.StructType]:
    """The schema ``spark.read.parquet`` infers for files with these
    footers (``_footer`` pairs), without its inference job. None where
    only that job is exact: footers that differ, a column Spark does not
    read as its Arrow type (unsigned, ns or INT96 timestamps, half floats,
    nested or dictionary columns, ...), or a session setting that changes
    the mapping."""
    import pyarrow.types as pat
    from pyspark.sql.pandas.types import from_arrow_schema

    schema = footers[0][1]
    plain = (
        pat.is_boolean, pat.is_signed_integer, pat.is_float32, pat.is_float64,
        pat.is_string, pat.is_large_string, pat.is_binary, pat.is_large_binary,
        pat.is_date32, pat.is_decimal128,
    )
    if not all(
        any(p(t) for p in plain) or (pat.is_timestamp(t) and t.unit != "ns")
        for t in schema.types
    ):
        return None
    if any(not s.equals(schema) for _, s in footers[1:]) or any(
        md.schema.column(i).physical_type == "INT96"
        for md, _ in footers
        for i in range(md.num_columns)
    ):
        return None
    conf = spark.conf
    if (
        conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true").lower() != "true"
        or conf.get("spark.sql.parquet.binaryAsString", "false").lower() != "false"
    ):
        return None
    return from_arrow_schema(schema, prefer_timestamp_ntz=True)


def _parquet_scan(spark: SparkSession, paths: List[str], footers) -> DataFrame:
    schema = _footer_schema(spark, footers) if footers else None
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(*paths)


def _read_parquet(spark: SparkSession, src: SourceConfig) -> DataFrame:
    """Parquet read that survives *mixed physical schemas* within one
    directory (e.g. a column stored as DOUBLE in one file and INT64 in the
    next — present in the reference's own fixtures): group files by footer
    schema (driver-side pyarrow metadata reads, no data IO), one vectorized
    Spark scan per group, cast each group to the declared schema, union.

    A homogeneous directory (the normal case at scale) yields exactly one
    group — identical plan to a plain directory scan. Each scan takes its
    schema from the group's footers where they fix it, so building the
    read starts no Spark job."""
    files = list_source_files(src) if os.path.isdir(src.path) else [src.path]
    try:
        footers = [_footer(f) for f in files]
    except Exception:  # non-local paths etc.: Spark reads the footers
        footers = None
    declared = _declared(
        src,
        lambda: list(footers[0][1].names) if footers else spark.read.parquet(src.path).columns,
    )
    if declared is None:
        # Spark scans every visible file of a directory, so the footers
        # fix its schema only when they are all of them.
        visible = (
            [n for n in os.listdir(src.path) if not n.startswith((".", "_"))]
            if os.path.isdir(src.path)
            else files
        )
        whole = footers if len(visible) == len(files) else None
        return _parquet_scan(spark, [src.path], whole)
    if not files:
        # No top-level .parquet files — a Hive-partitioned/nested layout.
        # Delegate to Spark's own directory scan (which discovers
        # partition directories and their columns) and cast through the
        # declared schema, instead of crashing on an empty group list.
        return _cast_to_declared(spark.read.parquet(src.path), declared)
    groups: dict = {}
    for f, ft in zip(files, footers or [None] * len(files)):
        key = "all" if ft is None else tuple(str(t) for t in ft[1].types)
        groups.setdefault(key, []).append((f, ft))
    frames = [
        _cast_to_declared(
            _parquet_scan(spark, [f for f, _ in g], [ft for _, ft in g if ft]),
            declared,
        )
        for g in groups.values()
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr, allowMissingColumns=True)
    return out


def _read_raw(spark: SparkSession, src: SourceConfig) -> DataFrame:
    if src.df is not None:
        return src.df
    if src.fmt == "parquet":
        return _read_parquet(spark, src)
    if src.fmt == "orc":
        # ORC: same columnar stance as parquet (vectorized scan, footer
        # stats pushdown). Declared schemas use cast-through semantics
        # (≈ ParquetSrc force_schema); mixed-physical-schema directories
        # are not special-cased — ORC readers resolve by name.
        files = (
            list_source_files(src)
            if os.path.exists(src.path) and os.path.isdir(src.path)
            else [src.path]
        )
        if not files:
            raise FileNotFoundError(
                f"Source {src.name!r}: no .orc files found in {src.path}"
            )
        # format().load(list): pyspark 4's read.orc(*paths) varargs form
        # rejects a second positional path (parses it as an option)
        df = spark.read.format("orc").load(files)
        declared = normalize_schema(src.schema, src.columns or df.columns)
        if declared is not None:
            return _cast_to_declared(df, declared)
        return df
    if src.fmt == "json":
        # JSONL (one object per line, Spark's default JSON mode; .gz
        # transparently decompressed). Same PERMISSIVE-with-declared-schema
        # stance as CSV: mistyped fields null out, opt into FAILFAST via
        # csv_options. Schema inference only when no schema is declared —
        # at scale the inference pass is a full extra read; declare one.
        reader = spark.read
        for k, v in src.csv_options.items():
            reader = reader.option(k, v)
        local = os.path.exists(src.path)
        files = list_source_files(src) if local else [src.path]
        if local and not files:
            raise FileNotFoundError(
                f"Source {src.name!r}: no .json(l)[.gz] files found in {src.path}"
            )
        declared = normalize_schema(src.schema, src.columns)
        target = files if local else src.path
        if declared is not None:
            return reader.schema(declared).json(target)
        return reader.json(target)
    # CSV: resolve positional schemas against the header and read with the
    # declared StructType. PERMISSIVE (cells that do not parse as the
    # declared type become null) is the parity-correct default: the
    # reference's own fixtures carry unparseable cells that its cast
    # semantics null out (e.g. the all-null TradeID in the golden outputs).
    # Pass csv_options={"mode": "FAILFAST"} to fail loudly instead.
    reader = spark.read.option("header", "true")
    for k, v in src.csv_options.items():
        reader = reader.option(k, v)
    sep = _csv_sep(src)
    encoding = _encoding(src.csv_options)

    # Local paths: resolve the EXPLICIT file list (chronological order) so a
    # stray file in the directory is never silently parsed, and zip archives
    # get the decompressing reader (Spark's CSV codec path has no zip).
    local = os.path.exists(src.path)
    files = list_source_files(src) if local else [src.path]
    if local and not files:
        raise FileNotFoundError(
            f"Source {src.name!r}: no csv, csv.gz, or zip files found in {src.path}"
        )
    zipped = local and any(f.endswith(".zip") for f in files)

    declared = _declared(
        src,
        lambda: _csv_header(files[0], sep, encoding) if local else reader.csv(src.path).columns,
    )
    if local and src.validate_headers and declared is not None:
        validate_csv_headers(
            files, [f.name for f in declared.fields], sep=sep, encoding=encoding
        )
    if zipped:
        if declared is None:
            raise ValueError(
                f"Source {src.name!r}: .zip CSV sources need a declared "
                "schema (Spark cannot infer through the archive reader)"
            )
        return _read_csv_zip(spark, files, declared, src.csv_options)
    target = files if local else src.path
    if declared is not None:
        return reader.schema(declared).csv(target)
    return reader.option("inferSchema", "true").csv(target)


def _csv_opts(options: Mapping) -> Dict[str, str]:
    """CSV options keyed in lower case, as Spark reads option keys."""
    return {k.lower(): str(v) for k, v in options.items()}


def _csv_sep(src: SourceConfig) -> str:
    return str(src.csv_options.get("sep", src.csv_options.get("delimiter", ",")))


def _encoding(options: Mapping) -> str:
    """The charset Spark decodes a CSV source with."""
    opts = _csv_opts(options)
    return opts.get("encoding", opts.get("charset", "utf-8"))


@contextmanager
def _csv_members(path: str) -> Iterator[List[Callable[[], io.BufferedIOBase]]]:
    """Openers of a local CSV file's byte streams: the file itself (plain
    or gzip), or each ``.csv`` member of a zip archive in archive order.
    The header sniff, the header check and the window probe all open
    files through this."""
    import gzip
    import zipfile

    if path.endswith(".zip"):
        with zipfile.ZipFile(path) as zf:
            yield [
                lambda n=n: zf.open(n)
                for n in zf.namelist()
                if n.lower().endswith(".csv")
            ]
    elif path.endswith(".gz"):
        yield [lambda: gzip.open(path, "rb")]
    else:
        yield [lambda: open(path, "rb")]


def _csv_header(path: str, sep: str = ",", encoding: str = "utf-8") -> List[str]:
    """Driver-side read of one header line (plain / .gz / .zip member)."""
    import csv as _csv

    with _csv_members(path) as members:
        if not members:
            raise RuntimeError(f"source [{path}]: no .csv member in archive")
        with members[0]() as raw:
            fh = io.TextIOWrapper(raw, encoding=encoding, newline="")
            return next(_csv.reader(fh, delimiter=sep))


def validate_csv_headers(
    files: List[str], expected: List[str], *, sep: str = ",", encoding: str = "utf-8"
) -> None:
    """P6 malformed-file guard ≈ reference _check_transform_headers_on_load
    + _check_column_order (core.py:949-989): every file's header must
    contain the declared columns (superset), match the declared column
    count, and be in the declared order — the order check matters here
    because Spark's CSV reader binds a user schema POSITIONALLY
    (enforceSchema), so a reordered file would misparse silently."""
    for f in files:
        hdr = _csv_header(f, sep, encoding)
        if len(hdr) != len(expected):
            raise RuntimeError(
                f"source [{f}] seems to be in the wrong format. Number of "
                f"columns does not match: expected {len(expected)} "
                f"{expected}, found {len(hdr)} {hdr}"
            )
        if not all(c in hdr for c in expected):
            raise RuntimeError(
                f"source [{f}] seems to be in the wrong format. Headers do "
                f"not match\n...should contain: {expected}\n"
                f"...instead contains: {hdr}"
            )
        if hdr != list(expected):
            raise ValueError(
                f"source [{f}]: column order is incorrect. "
                f"Expected: {list(expected)}, got: {hdr}"
            )


def _from_csv(lines: DataFrame, declared: T.StructType, csv_options) -> DataFrame:
    """Parse the ``__line`` column with the CSV reader's own parser and
    options, into the declared columns."""
    ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in declared.fields
    )
    opts = {k: str(v) for k, v in csv_options.items() if k.lower() != "header"}
    return lines.select(F.from_csv("__line", ddl, opts).alias("__r")).select("__r.*")


def _record_filter(csv_options) -> Callable[[str], bool]:
    """Spark's ``filterCommentAndEmpty``: a line is the header or a record
    only if it is non-blank after Java's trim and is not a comment."""
    comment = _csv_opts(csv_options).get("comment", "").replace("\0", "")
    return lambda t: bool(t.strip(_TRIM)) and not (comment and t.startswith(comment))


def _read_csv_zip(
    spark: SparkSession, files: List[str], declared: T.StructType, csv_options
) -> DataFrame:
    """Zipped CSV sources (reference reads these natively,
    datasources.py:273,328-337). Spark's CSV datasource decompresses gzip
    codecs but not zip archives, so: one ``binaryFile`` row per archive →
    members decompressed and split into data lines inside an Arrow-batched
    ``mapInPandas`` (bounded batches; blank and comment lines dropped and
    each member's first kept line taken as its header, as Spark's CSV
    reader does) → ``from_csv`` does the actual parsing JVM-side with the
    SAME parser/options semantics as the plain path. Parallelism =
    #archives; archive bytes never reach the driver."""
    import pandas as pd  # noqa: F401 (executor-side)

    encoding = _encoding(csv_options)
    is_record = _record_filter(csv_options)

    def _lines(it):
        import io
        import zipfile

        import pandas as pd

        for pdf in it:
            for content in pdf["content"]:
                with zipfile.ZipFile(io.BytesIO(bytes(content))) as zf:
                    for m in zf.namelist():
                        if not m.lower().endswith(".csv"):
                            continue
                        with zf.open(m) as raw:
                            txt = io.TextIOWrapper(
                                raw, encoding=encoding, newline=""
                            )
                            kept = filter(is_record, (ln.rstrip("\r\n") for ln in txt))
                            next(kept, None)  # header (validated upstream)
                            buf: List[str] = []
                            for line in kept:
                                buf.append(line)
                                if len(buf) >= 10_000:
                                    yield pd.DataFrame({"__line": buf})
                                    buf = []
                            if buf:
                                yield pd.DataFrame({"__line": buf})

    bin_df = spark.read.format("binaryFile").load(files).select("content")
    return _from_csv(bin_df.mapInPandas(_lines, schema="__line string"), declared, csv_options)


def _with_epoch_ts(df: DataFrame, src: SourceConfig) -> DataFrame:
    """Steps 1-2 of the module docstring. The window probe applies the
    same steps to its edge records, so its bounds are the values the
    fused stream filters on."""
    drop = [c for c in src.remove_cols if c in df.columns]
    if drop:
        df = df.drop(*drop)
    if src.ts_col not in df.columns:
        raise ValueError(
            f"Source {src.name!r}: timestamp column {src.ts_col!r} not in {df.columns}"
        )

    ts = F.col(src.ts_col)
    if src.ts_converter is not None:
        # Preserve the original column as __{ts_col} (core.py:942-946).
        df = df.withColumn(f"__{src.ts_col}", ts)
        ts_ms = src.ts_converter(ts).cast(T.LongType())
    else:
        ts_ms = ts_epoch_ms_col(df, src.ts_col, int_epoch="ms")
    df = df.withColumn(TS_COL, ts_ms)
    if src.ts_col != TS_COL:
        df = df.drop(src.ts_col)
    return df


def build_source_df(spark: SparkSession, src: SourceConfig, src_id: int) -> DataFrame:
    """Read + normalize one source (see module docstring)."""
    df = _with_epoch_ts(_read_raw(spark, src), src)
    # __seq: arrival order within the source (file listing order × row order)
    # — monotonically_increasing_id is deterministic for a fixed file layout
    # and never collides across partitions; used only as a sort tiebreaker.
    return df.withColumn(SRC_ID_COL, F.lit(src_id).cast("int")).withColumn(
        SEQ_COL, F.monotonically_increasing_id()
    )


_EXTS = {
    "csv": (".csv", ".csv.gz", ".zip"),
    "parquet": (".parquet",),
    "json": (".json", ".jsonl", ".json.gz", ".jsonl.gz"),
    "orc": (".orc",),
}


def list_source_files(src: SourceConfig) -> List[str]:
    """Chronologically ordered file list (reference FilesSrc.sort_data,
    datasources.py:189-212): sort by ``int(re.findall(regex, name)[idx])``,
    falling back to lexicographic when the key doesn't parse.

    CSV directories must be compression-homogeneous (reference
    _check_compression, datasources.py:320-337): mixing .csv / .csv.gz /
    .zip in one source is rejected loudly."""
    if os.path.isfile(src.path):
        return [src.path]
    names = [n for n in os.listdir(src.path) if n.endswith(_EXTS[src.fmt])]
    if src.fmt == "csv":
        kinds = {
            ".zip" if n.endswith(".zip") else ".csv.gz" if n.endswith(".gz") else ".csv"
            for n in names
        }
        if len(kinds) > 1:
            raise RuntimeError(
                f"More than one compression file type found in {src.path}: "
                f"{sorted(kinds)}"
            )

    def key(n: str):
        try:
            return (0, int(re.findall(src.file_sort_regex, n)[src.file_sort_idx]), n)
        except (IndexError, ValueError):
            return (1, 0, n)

    return [os.path.join(src.path, n) for n in sorted(names, key=key)]


# --------------------------------------------------------------------- #
# window probe


def _lines(raw) -> Iterator[Tuple[int, bytes]]:
    """(offset, line) of each line of a byte stream, first to last."""
    pos, frag = 0, b""
    while True:
        chunk = raw.read(1 << 16)
        buf, start = frag + chunk, 0
        for m in _EOL.finditer(buf):
            yield pos + start, buf[start:m.start()]
            start = m.end()
        if not chunk:
            if start < len(buf):
                yield pos + start, buf[start:]
            return
        frag, pos = buf[start:], pos + start


def _last_in(text: bytes, keep, skip_first: bool) -> Optional[Tuple[int, bytes]]:
    """(offset, line) of the last line of ``text`` that ``keep`` accepts,
    searched from the end."""
    end = len(text)
    while True:
        s = max(text.rfind(b"\n", 0, end), text.rfind(b"\r", 0, end)) + 1
        if (s or not skip_first) and keep(text[s:end]):
            return s, text[s:end]
        if not s:
            return None
        end = s - 1


def _last_kept(raw, keep, start: int = 0) -> Optional[Tuple[int, bytes]]:
    """(offset, line) of the last line of a byte stream, from byte
    ``start`` on, that ``keep`` accepts; the line ``start`` cuts is
    skipped. Reads in chunks and carries only the unfinished line from
    one chunk to the next."""
    if start:
        raw.seek(start)
    best, pos, frag, cut = None, start, b"", start > 0
    while True:
        chunk = raw.read(_CHUNK)
        buf = frag + chunk
        end = max(buf.rfind(b"\n"), buf.rfind(b"\r")) if chunk else len(buf)
        if end < 0:
            frag = buf
            continue
        hit = _last_in(buf[:end], keep, cut)
        if hit:
            best = (pos + hit[0], hit[1])
        if not chunk:
            return best
        frag, pos, cut = buf[end + 1:], pos + end + 1, False


def _csv_edge(path: str, last: bool, keep) -> Optional[bytes]:
    """The first (or ``last``) data line of one local CSV file, as the
    source's reader parses it: Spark's CSV reader (and ``_read_csv_zip``,
    per zip member) takes the first line ``keep`` accepts as the header
    and every later one as data."""
    size = None if path.endswith((".gz", ".zip")) else os.path.getsize(path)
    with _csv_members(path) as members:
        for member in members[::-1] if last else members:
            with member() as raw:
                kept = ((o, line) for o, line in _lines(raw) if keep(line))
                header = next(kept, (None,))[0]
                if header is None:
                    return None
                hit = None if last else next((k for k in kept if k[0] > header), None)
            if last:
                # Plain files are read from the end, in growing windows;
                # compressed streams in one pass.
                span = _CHUNK
                while True:
                    start = max(0, size - span) if size else 0
                    with member() as raw:
                        hit = _last_kept(raw, keep, start)
                    if hit or not start:
                        break
                    span *= 4
            if hit and hit[0] > header:
                return hit[1]
    return None


def _csv_edges(spark, src: SourceConfig, first: str, last: str) -> Optional[DataFrame]:
    """The two edge records of a declared-schema CSV source, parsed with
    ``from_csv`` from lines read on the driver; None where only Spark's
    reader is exact (see :func:`probe_source_window`)."""
    import pyarrow as pa

    opts = _csv_opts(src.csv_options)
    encoding = _encoding(src.csv_options)
    comment = opts.get("comment", "").replace("\0", "")
    try:
        ascii_lines = "\r\n".encode(encoding) == b"\r\n"
    except LookupError:
        ascii_lines = False
    if (
        not ascii_lines
        or len(comment) > 1
        or opts.get("multiline", "false").lower() != "false"
        or opts.get("mode", "").upper() == "DROPMALFORMED"
        or opts.get("header", "true").lower() != "true"
        or "linesep" in opts
        or not all(f.endswith((".csv", ".gz", ".zip")) for f in (first, last))
    ):
        return None
    sep = _csv_sep(src)
    declared = [_declared(src, lambda f=f: _csv_header(f, sep, encoding)) for f in (first, last)]
    if declared[0] is None or declared[0] != declared[1]:
        return None
    if src.validate_headers:
        validate_csv_headers(
            list(dict.fromkeys((first, last))), declared[0].names, sep=sep, encoding=encoding
        )

    is_record = _record_filter(src.csv_options)

    def keep(line: bytes) -> bool:
        return is_record(line.decode(encoding, "replace"))

    edges = [_csv_edge(first, False, keep), _csv_edge(last, True, keep)]
    texts = [] if None in edges else [e.decode(encoding, "replace") for e in edges]
    lines = spark.createDataFrame(pa.table({"__line": pa.array(texts, pa.string())}))
    return _from_csv(lines, declared[0], src.csv_options)


def _parquet_edges(spark, src: SourceConfig, first: str, last: str) -> Optional[DataFrame]:
    """The ts column of a parquet source's two edge records, read with
    pyarrow from the first non-empty row group of ``first`` and the last
    one of ``last``, cast through the declared type; None where only
    Spark's reader is exact (see :func:`probe_source_window`)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    values, fields, types = [], [], []
    for i, path in enumerate((first, last)):
        md, schema = _footer(path)
        struct = _footer_schema(spark, [(md, schema)])
        if struct is None or src.ts_col not in schema.names:
            return None
        declared = _declared(src, lambda: list(schema.names))
        raw = struct[src.ts_col].dataType
        to = (
            declared[src.ts_col].dataType
            if declared is not None and src.ts_col in declared.names
            else None
        )
        fields.append((T.StructField(f"c{i}", raw), schema.field(src.ts_col).type, to))
        types.append(to or raw)
        groups = [g for g in range(md.num_row_groups) if md.row_group(g).num_rows]
        if groups:
            with pq.ParquetFile(path, metadata=md) as pf:
                col = pf.read_row_group(groups[-i], columns=[src.ts_col]).column(0)
            values.append(col.slice(len(col) - 1 if i else 0, 1).combine_chunks())
    if types[0] != types[1]:
        return None
    # Row i holds edge i in column c{i}, so each edge is cast from its own
    # file's type before the coalesce; an empty edge file gives no rows.
    table = pa.table({
        f.name: pa.concat_arrays([pa.nulls(i, at), values[i], pa.nulls(1 - i, at)])
        if len(values) == 2 else pa.array([], at)
        for i, (f, at, _) in enumerate(fields)
    })
    frame = spark.createDataFrame(table, T.StructType([f for f, _, _ in fields]))
    cols = [F.col(f.name) if to is None else F.col(f.name).cast(to) for f, _, to in fields]
    return frame.select(F.coalesce(*cols).alias(src.ts_col))


def probe_source_window(spark: SparkSession, src: SourceConfig) -> Tuple[int, int]:
    """Per-source processing window: (first row of the chronologically first
    file, last row of the last file), in epoch ms after ts normalization.

    ≈ reference _get_global_proc_start_end_from_files (core.py:738-872,
    datasources.py:266-292): deliberately row-position-based, NOT min/max —
    out-of-order rows before the first row / after the last row fall outside
    the window and are dropped, matching the reference's replay semantics.

    Like the reference, the two records are read on one node, the driver,
    and put into a two-row local frame, so the probe starts no Spark job:

    - parquet: pyarrow reads only the ts column of the first non-empty row
      group of the first file and of the last non-empty row group of the
      last file; Spark casts each through the declared type;
    - CSV with a declared schema (plain, .gz, .zip): the header is
      skipped, the first data line of the first file is read from its
      start, and the last data line of the last file from its end (plain)
      or by streaming its bytes and keeping only the tail (compressed);
      ``from_csv`` parses both with the reader's own options.

    Both then take ``build_source_df``'s ts normalization. A
    ``ts_converter`` sees only the ts column here, and under ``FAILFAST`` a
    malformed line between the edges raises when the query runs, not in
    the probe. Where the driver read
    cannot match Spark's reader it keeps Spark's ``head``/``tail`` probe,
    whose ``tail`` reads the whole last file:

    - ``multiLine`` CSV: a record may span lines;
    - ``DROPMALFORMED``: a dropped line moves the edge to the next one,
      and ``from_csv`` has no such mode;
    - ``lineSep``, a charset whose line ends are not ASCII bytes, a file
      of another codec, or a ``header`` option of false: lines split or
      read differently;
    - CSV with no declared schema, and parquet whose footer types Spark
      does not read as their Arrow types (``_footer_schema``): the types
      come from Spark's inference;
    - JSON and ORC: no driver reader here.

    For prebuilt-DataFrame or non-local sources there is no file order, so
    min/max of the timestamp axis is used instead.
    """
    if src.df is not None or not os.path.exists(src.path):
        df = build_source_df(spark, src, 0)
        row = df.agg(F.min(TS_COL).alias("a"), F.max(TS_COL).alias("b")).head()
        return row["a"], row["b"]
    files = list_source_files(src)
    if not files:
        raise FileNotFoundError(f"Source {src.name!r}: no {src.fmt} files in {src.path}")
    read = {"parquet": _parquet_edges, "csv": _csv_edges}.get(src.fmt)
    edges = read and read(spark, src, files[0], files[-1])
    if edges is not None:
        rows = _with_epoch_ts(edges, src).select(TS_COL).collect()
        return (rows[0][0], rows[1][0]) if rows else (None, None)
    first_df = build_source_df(spark, replace(src, path=files[0]), 0)
    head = first_df.select(TS_COL).head(1)
    last_df = (
        first_df
        if len(files) == 1
        else build_source_df(spark, replace(src, path=files[-1]), 0)
    )
    tail = last_df.select(TS_COL).tail(1)
    # Empty first/last file (e.g. header-only CSV) → (None, None): the
    # fuser warns and skips the source instead of crashing on [0][0].
    if not head or not tail:
        return None, None
    return head[0][0], tail[0][0]


def iso_string_to_epoch_ms(col):
    """Canonical ts_converter: ISO-8601 string → epoch ms.

    ≈ the reference's canonical convert_timestamp_function example
    (examples/demo_spread_trades_memecoin.py:21-27:
    str.strptime(Datetime).dt.epoch('ms'))."""
    return F.unix_millis(F.to_timestamp(col))


def parquet_footer_cuts(
    path: str, col: str, n: int, *, to_ms: bool = False
) -> Optional[List[float]]:
    """Range-bucket cut points for ``col`` interpolated from parquet FOOTER
    row-group ``(min, max, rows)`` statistics — a metadata-only read, no
    data pass. Replaces a driver-side ``approxQuantile`` job when the input
    is a parquet table on disk: at 100 TB the quantile sketch is a full
    input scan serialized on the driver before the real job starts, while
    footers are O(#files) kilobyte reads the scan planner touches anyway.

    Each row group's rows are modeled as uniform on ``[min, max]`` and the
    returned cuts are the ``n``-quantile points of that mixture. Cuts feed
    :func:`operators.fill.forward_fill`'s ``bounds`` parameter, which by
    contract controls TASK BALANCE only, never results — so the uniform
    model being approximate is harmless, and for time-ordered event data it
    is a close proxy for the true quantiles.

    ``to_ms=True`` converts timestamp columns to epoch-ms floats (matching
    ``ts_epoch_ms_col``; naive timestamps are interpreted as UTC, same as
    the UTC-pinned session). Returns ``None`` when the path has no local
    parquet files, the column is absent or lacks stats in every row group,
    or pyarrow is unavailable — callers then fall back to the sketch.
    """
    try:
        import pyarrow.parquet as pq
        import pyarrow.types as patypes
    except ImportError:
        return None
    if os.path.isfile(path):
        files = [path]
    elif os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    else:
        return None
    if not files or n < 2:
        return None

    segments: List[Tuple[float, float, int]] = []  # (lo, hi, rows)
    divisor = 1.0
    try:
        for fp in files:
            pf = pq.ParquetFile(fp)
            names = pf.metadata.schema.names
            if col not in names:
                return None
            field_type = pf.schema_arrow.field(col).type
            if patypes.is_timestamp(field_type):
                divisor = {"s": 1e-3, "ms": 1.0, "us": 1e3, "ns": 1e6}[
                    field_type.unit
                ]
            elif not (
                patypes.is_integer(field_type) or patypes.is_floating(field_type)
            ):
                return None
            idx = names.index(col)
            md = pf.metadata
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                st = rg.column(idx).statistics
                if st is None or not st.has_min_max:
                    continue
                lo = float(st.min_raw) / divisor
                hi = float(st.max_raw) / divisor
                if hi < lo:
                    lo, hi = hi, lo
                segments.append((lo, hi, rg.num_rows))
    except (OSError, ValueError, KeyError):
        return None
    if not segments:
        return None

    segments.sort()
    total = sum(rows for _, _, rows in segments)
    if total <= 0:
        return None
    cuts: List[float] = []
    seg_i, cum = 0, 0.0
    for k in range(1, n):
        target = total * k / n
        while seg_i < len(segments) and cum + segments[seg_i][2] < target:
            cum += segments[seg_i][2]
            seg_i += 1
        if seg_i >= len(segments):
            break
        lo, hi, rows = segments[seg_i]
        frac = (target - cum) / rows if rows else 0.0
        cuts.append(lo + (hi - lo) * frac)
    return sorted(set(cuts)) or None
