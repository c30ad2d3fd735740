"""The window probe reads each source's first and last record on the
driver and starts no Spark job; parquet scans take their schema from the
footers. Each case here is checked against Spark's own ``head``/``tail``
probe and ``spark.read.parquet`` inference."""

import datetime as dt
import gzip
import zipfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.test_resample import _jobs
from timeseriesfuser_spark import SourceConfig
from timeseriesfuser_spark.sources import readers
from timeseriesfuser_spark.sources.readers import (
    _footer,
    _footer_schema,
    _parquet_scan,
    build_source_df,
    iso_string_to_epoch_ms,
    probe_source_window,
)

T0 = 1_700_000_000_000
HDR = "Timestamp,v\n"


def _write_csv(path, text, kind, encoding="utf-8"):
    """Write ``text`` as a plain, gzip or zip (one member) CSV file."""
    data = text.encode(encoding)
    name = {"plain": f"{path}.csv", "gz": f"{path}.csv.gz", "zip": f"{path}.zip"}[kind]
    if kind == "zip":
        with zipfile.ZipFile(name, "w") as zf:
            zf.writestr(path.name + ".csv", data)
    elif kind == "gz":
        with gzip.open(name, "wb") as fh:
            fh.write(data)
    else:
        with open(name, "wb") as fh:
            fh.write(data)


def _spark_probe(spark, src, monkeypatch):
    """The probe with the driver reads turned off."""
    with monkeypatch.context() as m:
        m.setattr(readers, "_csv_edges", lambda *a: None)
        m.setattr(readers, "_parquet_edges", lambda *a: None)
        return probe_source_window(spark, src)


def _driver_probe(spark, src):
    """The probe, which must start no Spark job."""
    out = []
    assert _jobs(spark, lambda: out.append(probe_source_window(spark, src))) == 0
    return out[0]


# --------------------------------------------------------------------- #
# CSV

_ROWS = [f"{T0 + 1000 * i},r{i}" for i in range(5)]
_BIG = [f"{T0 + i},x{i}" for i in range(120_000)]  # > 1 MB: chunk boundaries

CSV_CASES = {
    "crlf": ([HDR + "\r\n".join(_ROWS) + "\r\n"], {}),
    "lone_cr": ([(HDR + "\n".join(_ROWS) + "\n").replace("\n", "\r")], {}),
    "no_final_newline": ([HDR + "\n".join(_ROWS)], {}),
    "trailing_blank_lines": ([HDR + "\n".join(_ROWS) + "\n\n   \n\t\n \r\n"], {}),
    "unparseable_first_ts": ([HDR + "abc,x\n" + "\n".join(_ROWS) + "\n"], {}),
    "unparseable_last_ts": ([HDR + "\n".join(_ROWS) + "\n1e99x,y\n"], {}),
    "header_only_last_file": ([HDR + "\n".join(_ROWS) + "\n", HDR], {}),
    "header_only_file": ([HDR], {}),
    "quoted_fields": (
        ['"Timestamp","v"\n' + "".join(f'"{T0 + i}","a,""{i}"""\n' for i in range(4))],
        {},
    ),
    "comment": (
        [HDR + "#note\n" + "\n".join(_ROWS) + "\n#tail\n\n"],
        {"comment": "#"},
    ),
    "out_of_order_across_files": (
        [HDR + f"{T0 + 5000},a\n{T0 + 1000},b\n", HDR + f"{T0 + 9000},c\n{T0 + 3000},d\n"],
        {},
    ),
    "blank_lines_around_header": (
        ["\n  \n" + HDR + "\n" + "\n".join(_ROWS) + "\n"],
        {},
    ),
    "leading_blank_line": (["\n" + HDR + "\n".join(_ROWS) + "\n"], {}),
    # The last 1 MB of the plain file starts inside the last data line.
    "window_cuts_last_line": (
        [HDR + "\n".join(_ROWS) + "\n" + " \n" * ((2**20 - 12) // 2)],
        {},
    ),
    "big_crlf_with_long_blank_tail": (
        [HDR + "\r\n".join(_BIG) + "\r\n" + "\r\n \r\n" * 400_000],
        {},
    ),
    "failfast": ([HDR + "\n".join(_ROWS) + "\n"], {"mode": "FAILFAST"}),
}


@pytest.mark.parametrize("kind", ["plain", "gz", "zip"])
@pytest.mark.parametrize("case", sorted(CSV_CASES))
def test_csv_probe_matches_spark(spark, tmp_path, monkeypatch, case, kind):
    texts, options = CSV_CASES[case]
    for i, text in enumerate(texts):
        _write_csv(tmp_path / f"part-{i}", text, kind)
    src = SourceConfig(
        name="s", path=str(tmp_path), fmt="csv",
        schema={"Timestamp": int, "v": str}, csv_options=options,
        validate_headers=False,
    )
    assert _driver_probe(spark, src) == _spark_probe(spark, src, monkeypatch)


def test_csv_probe_values(spark, tmp_path):
    """Spot checks of what the parity cases above agree on."""
    _write_csv(tmp_path / "a", HDR + "\n".join(_ROWS) + "\n\n \n", "gz")
    _write_csv(tmp_path / "b", HDR, "gz")
    src = SourceConfig(name="s", path=str(tmp_path), fmt="csv", schema=[int, str])
    assert _driver_probe(spark, src) == (None, None)  # header-only last file
    (tmp_path / "b.csv.gz").unlink()
    assert _driver_probe(spark, src) == (T0, T0 + 4000)


def test_csv_probe_header_check_still_raises(spark, tmp_path):
    _write_csv(tmp_path / "a", "v,Timestamp\nx,1\n", "plain")
    src = SourceConfig(name="s", path=str(tmp_path), fmt="csv",
                       schema={"Timestamp": int, "v": str})
    with pytest.raises(ValueError, match="column order"):
        probe_source_window(spark, src)


@pytest.mark.parametrize("options", [{"multiLine": "true"}, {"mode": "DROPMALFORMED"}])
def test_csv_probe_keeps_spark_where_lines_are_not_records(spark, tmp_path, options):
    _write_csv(tmp_path / "a", HDR + "\n".join(_ROWS) + "\n", "plain")
    src = SourceConfig(name="s", path=str(tmp_path), fmt="csv",
                       schema={"Timestamp": int, "v": str}, csv_options=options)
    assert readers._csv_edges(spark, src, *readers.list_source_files(src)[:1] * 2) is None
    assert probe_source_window(spark, src) == (T0, T0 + 4000)


@pytest.mark.parametrize("kind", ["plain", "gz", "zip"])
def test_csv_encoding_is_honoured(spark, tmp_path, monkeypatch, kind):
    """A latin-1 header with a positional schema: the header sniff, the
    header check and the probe all decode with the source's encoding."""
    _write_csv(tmp_path / "a", f"Timestamp,Préis\n{T0},1.5\n{T0 + 1},2.5\n", kind,
               encoding="latin-1")
    src = SourceConfig(name="s", path=str(tmp_path), fmt="csv", schema=[int, float],
                       csv_options={"encoding": "ISO-8859-1"})
    df = build_source_df(spark, src, 0)
    assert "Préis" in df.columns
    assert sorted(r["Préis"] for r in df.collect()) == [1.5, 2.5]
    assert _driver_probe(spark, src) == (T0, T0 + 1)
    assert _spark_probe(spark, src, monkeypatch) == (T0, T0 + 1)


# --------------------------------------------------------------------- #
# parquet

MS = [1704067201234, 1751327999999]
UTC = [dt.datetime.fromtimestamp(m / 1000.0, tz=dt.timezone.utc) for m in MS]
NAIVE = [u.replace(tzinfo=None) for u in UTC]

TS_CASES = {  # the dtypes of test_ts_dtypes, and ISO strings
    "timestamp_ltz": pa.array(UTC, pa.timestamp("us", tz="UTC")),
    "timestamp_ntz_us": pa.array(NAIVE, pa.timestamp("us")),
    "timestamp_ms_new_york": pa.array(UTC, pa.timestamp("ms", tz="America/New_York")),
    "epoch_ns_bigint": pa.array([m * 1_000_000 for m in MS], pa.int64()),
    "epoch_us_bigint": pa.array([m * 1_000 for m in MS], pa.int64()),
    "epoch_ms_bigint": pa.array(MS, pa.int64()),
    "epoch_s_bigint": pa.array([m // 1000 for m in MS], pa.int64()),
    "epoch_ms_double": pa.array([float(m) for m in MS], pa.float64()),
    "iso_string": pa.array([u.isoformat() for u in UTC], pa.string()),
}


def _write_groups(path, ts, groups):
    """One parquet file whose row groups hold ``ts[a:b]`` for each (a, b)."""
    t = pa.table({"Timestamp": ts, "v": pa.array(range(len(ts)), pa.int64())})
    with pq.ParquetWriter(str(path), t.schema) as w:
        for a, b in groups:
            w.write_table(t.slice(a, b - a))


@pytest.mark.parametrize("case", sorted(TS_CASES))
def test_parquet_probe_matches_spark(spark, tmp_path, monkeypatch, case):
    ts = TS_CASES[case]
    # empty first and last row groups around two non-empty ones
    groups = [(0, 0), (0, 1), (1, 2), (0, 0)]
    _write_groups(tmp_path / "p-1.parquet", ts, groups)
    _write_groups(tmp_path / "p-2.parquet", ts, groups)
    conv = iso_string_to_epoch_ms if case == "iso_string" else None
    src = SourceConfig(name="s", path=str(tmp_path), fmt="parquet", ts_converter=conv)
    got = _driver_probe(spark, src)
    assert got == _spark_probe(spark, src, monkeypatch)
    assert got[0] is not None and got[1] is not None


def test_parquet_probe_mixed_double_int64_directory(spark, tmp_path, monkeypatch):
    _write_groups(tmp_path / "p-1.parquet", pa.array([T0 + 0.9, T0 + 5.0]), [(0, 2)])
    _write_groups(tmp_path / "p-2.parquet", pa.array([T0 + 7, T0 + 9], pa.int64()), [(0, 2)])
    declared = SourceConfig(name="s", path=str(tmp_path), fmt="parquet",
                            schema={"Timestamp": int, "v": int})
    assert _driver_probe(spark, declared) == (T0, T0 + 9)
    assert _spark_probe(spark, declared, monkeypatch) == (T0, T0 + 9)
    positional = SourceConfig(name="s", path=str(tmp_path), fmt="parquet", schema=[int, int])
    assert _driver_probe(spark, positional) == (T0, T0 + 9)
    assert _spark_probe(spark, positional, monkeypatch) == (T0, T0 + 9)
    # No declared type to cast through: the edges keep their own types,
    # so the Spark probe normalizes each file on its own.
    undeclared = SourceConfig(name="s", path=str(tmp_path), fmt="parquet")
    assert readers._parquet_edges(spark, undeclared, *readers.list_source_files(undeclared)) is None
    assert probe_source_window(spark, undeclared) == _spark_probe(spark, undeclared, monkeypatch)


def test_parquet_probe_empty_file(spark, tmp_path, monkeypatch):
    _write_groups(tmp_path / "p-1.parquet", pa.array([T0], pa.int64()), [(0, 1)])
    _write_groups(tmp_path / "p-2.parquet", pa.array([T0], pa.int64()), [(0, 0)])
    src = SourceConfig(name="s", path=str(tmp_path), fmt="parquet")
    assert _driver_probe(spark, src) == (None, None)
    assert _spark_probe(spark, src, monkeypatch) == (None, None)


# --------------------------------------------------------------------- #
# footer schemas

_D = [dt.date(2024, 1, 1), dt.date(2024, 2, 29)]
FOOTER_TYPES = {
    "bool": pa.array([True, None]),
    "int8": pa.array([-8, None], pa.int8()),
    "int16": pa.array([-16, 7], pa.int16()),
    "int32": pa.array([-32, None], pa.int32()),
    "int64": pa.array([-(2**62), 64], pa.int64()),
    "float32": pa.array([1.5, None], pa.float32()),
    "float64": pa.array([2.25, -0.0], pa.float64()),
    "string": pa.array(["é", None]),
    "large_string": pa.array(["a", "b"], pa.large_string()),
    "binary": pa.array([b"\x00\x01", None], pa.binary()),
    "large_binary": pa.array([b"x", b""], pa.large_binary()),
    "date32": pa.array(_D, pa.date32()),
    "decimal_10_2": pa.array([None, 1], pa.decimal128(10, 2)),
    "decimal_38_9": pa.array([1, 2], pa.decimal128(38, 9)),
    "timestamp_s": pa.array(NAIVE, pa.timestamp("s")),
    "timestamp_ms": pa.array(NAIVE, pa.timestamp("ms")),
    "timestamp_us": pa.array(NAIVE, pa.timestamp("us")),
    "timestamp_ms_utc": pa.array(UTC, pa.timestamp("ms", tz="UTC")),
    "timestamp_us_new_york": pa.array(UTC, pa.timestamp("us", tz="America/New_York")),
}
INFERRED_TYPES = {  # Spark reads these differently from their Arrow type
    "uint8": pa.array([1, 2], pa.uint8()),
    "uint32": pa.array([1, 2], pa.uint32()),
    "uint64": pa.array([1, 2], pa.uint64()),
    "timestamp_ns": pa.array(NAIVE, pa.timestamp("ns")),
    "timestamp_ns_utc": pa.array(UTC, pa.timestamp("ns", tz="UTC")),
    "duration": pa.array([1, 2], pa.duration("ms")),
    "dictionary": pa.array(["a", "b"]).dictionary_encode(),
    "list": pa.array([[1], []], pa.list_(pa.int64())),
}


@pytest.mark.parametrize("name", sorted(FOOTER_TYPES))
def test_footer_schema_matches_inference(spark, tmp_path, name):
    path = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({"c": FOOTER_TYPES[name], "n": pa.array([1, 2])}), path)
    assert _footer_schema(spark, [_footer(path)]) is not None
    got = []
    assert _jobs(spark, lambda: got.append(_parquet_scan(spark, [path], [_footer(path)]))) == 0
    want = spark.read.parquet(path)
    assert got[0].schema == want.schema
    assert got[0].collect() == want.collect()


@pytest.mark.parametrize("name", sorted(INFERRED_TYPES))
def test_footer_schema_leaves_other_types_to_inference(spark, tmp_path, name):
    path = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({"c": INFERRED_TYPES[name]}), path)
    assert _footer_schema(spark, [_footer(path)]) is None


def test_footer_schema_int96_and_session_settings(spark, tmp_path):
    path = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({"c": pa.array(NAIVE, pa.timestamp("us"))}), path,
                   use_deprecated_int96_timestamps=True)
    assert _footer_schema(spark, [_footer(path)]) is None
    pq.write_table(pa.table({"c": pa.array(NAIVE, pa.timestamp("us"))}), path)
    assert _footer_schema(spark, [_footer(path)]) is not None
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    spark.conf.set(key, "false")
    try:
        assert _footer_schema(spark, [_footer(path)]) is None
    finally:
        spark.conf.unset(key)


def test_footer_schema_needs_equal_footers(spark, tmp_path):
    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"x": pa.array([1])}), a)
    pq.write_table(pa.table({"y": pa.array([1])}), b)
    assert _footer_schema(spark, [_footer(a), _footer(b)]) is None
