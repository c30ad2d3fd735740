"""Zip CSV sources + P6 malformed-file guards.

Reference parity targets: zip autodetect/decompress (datasources.py:273,
320-337), header superset/count checks naming the bad source
(core.py:949-980), column-order check (core.py:982-989), and the
mixed-compression rejection (_check_compression)."""

import gzip
import os
import zipfile

import pytest

from timeseriesfuser_spark.config import SourceConfig
from timeseriesfuser_spark.operators.fuse import TimeSeriesFuser
from timeseriesfuser_spark.sources.readers import (
    build_source_df,
    list_source_files,
    probe_source_window,
)

HDR = "Timestamp,Price,Qty"
ROWS1 = ["1000,1.5,10", "2000,2.5,20"]
ROWS2 = ["3000,3.5,30", "4000,4.5,40"]
SCHEMA = [int, float, int]


def write_csv(path, rows, hdr=HDR):
    with open(path, "w") as f:
        f.write("\n".join([hdr] + rows) + "\n")


def write_zip(path, rows, hdr=HDR, member="part.csv"):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(member, "\n".join([hdr] + rows) + "\n")


def collect(spark, src):
    df = build_source_df(spark, src, 0)
    return [
        (r["__timestamp"], r["Price"], r["Qty"])
        for r in df.orderBy("__timestamp").collect()
    ]


WANT = [(1000, 1.5, 10), (2000, 2.5, 20), (3000, 3.5, 30), (4000, 4.5, 40)]


def test_zip_source_reads_and_matches_plain_csv(spark, tmp_path):
    zdir, cdir = tmp_path / "z", tmp_path / "c"
    zdir.mkdir(), cdir.mkdir()
    write_zip(zdir / "data_1.zip", ROWS1)
    write_zip(zdir / "data_2.zip", ROWS2)
    write_csv(cdir / "data_1.csv", ROWS1)
    write_csv(cdir / "data_2.csv", ROWS2)
    zsrc = SourceConfig(name="z", path=str(zdir), fmt="csv", schema=SCHEMA)
    csrc = SourceConfig(name="c", path=str(cdir), fmt="csv", schema=SCHEMA)
    assert collect(spark, zsrc) == collect(spark, csrc) == WANT


def test_zip_multi_member_archive(spark, tmp_path):
    p = tmp_path / "multi.zip"
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr("a.csv", "\n".join([HDR] + ROWS1) + "\n")
        zf.writestr("b.csv", "\n".join([HDR] + ROWS2) + "\n")
        zf.writestr("README.txt", "not data")
    src = SourceConfig(name="m", path=str(p), fmt="csv", schema=SCHEMA)
    assert collect(spark, src) == WANT


def test_zip_requires_declared_schema(spark, tmp_path):
    write_zip(tmp_path / "d.zip", ROWS1)
    src = SourceConfig(name="z", path=str(tmp_path / "d.zip"), fmt="csv")
    with pytest.raises(ValueError, match="declared schema"):
        build_source_df(spark, src, 0)


def test_mixed_compression_rejected(tmp_path):
    write_csv(tmp_path / "a.csv", ROWS1)
    with gzip.open(tmp_path / "b.csv.gz", "wt") as f:
        f.write("\n".join([HDR] + ROWS2) + "\n")
    src = SourceConfig(name="x", path=str(tmp_path), fmt="csv", schema=SCHEMA)
    with pytest.raises(RuntimeError, match="More than one compression"):
        list_source_files(src)


def test_empty_source_dir_fails_loudly(spark, tmp_path):
    src = SourceConfig(name="e", path=str(tmp_path), fmt="csv", schema=SCHEMA)
    with pytest.raises(FileNotFoundError, match="no csv"):
        build_source_df(spark, src, 0)


def test_header_missing_column_names_bad_file(spark, tmp_path):
    write_csv(tmp_path / "good_1.csv", ROWS1)
    write_csv(tmp_path / "bad_2.csv", ["3000,3.5"], hdr="Timestamp,Price")
    src = SourceConfig(
        name="h",
        path=str(tmp_path),
        fmt="csv",
        schema={"Timestamp": int, "Price": float, "Qty": int},
    )
    with pytest.raises(RuntimeError, match=r"bad_2\.csv.*wrong format"):
        build_source_df(spark, src, 0)


def test_header_wrong_order_names_bad_file(spark, tmp_path):
    write_csv(tmp_path / "good_1.csv", ROWS1)
    write_csv(tmp_path / "bad_2.csv", ["3.5,3000,30"], hdr="Price,Timestamp,Qty")
    src = SourceConfig(
        name="h",
        path=str(tmp_path),
        fmt="csv",
        schema={"Timestamp": int, "Price": float, "Qty": int},
    )
    with pytest.raises(ValueError, match=r"bad_2\.csv.*order is incorrect"):
        build_source_df(spark, src, 0)


def test_header_guard_checks_inside_gz_and_zip(spark, tmp_path):
    zdir = tmp_path / "z"
    zdir.mkdir()
    write_zip(zdir / "ok_1.zip", ROWS1)
    write_zip(zdir / "bad_2.zip", ["1,2"], hdr="Wrong,Cols,Here")
    src = SourceConfig(name="z", path=str(zdir), fmt="csv", schema=SCHEMA)
    with pytest.raises(RuntimeError, match=r"bad_2\.zip"):
        build_source_df(spark, src, 0)


def test_validate_headers_off_skips_guard(spark, tmp_path):
    # with validation off, Spark's positional bind applies as documented
    write_csv(tmp_path / "a_1.csv", ROWS1)
    src = SourceConfig(
        name="h",
        path=str(tmp_path),
        fmt="csv",
        schema={"Timestamp": int, "Price": float, "Qty": int},
        validate_headers=False,
    )
    assert collect(spark, src) == WANT[:2]


def test_fuse_over_zip_source_end_to_end(spark, tmp_path):
    zdir = tmp_path / "z"
    zdir.mkdir()
    write_zip(zdir / "data_1.zip", ROWS1)
    write_zip(zdir / "data_2.zip", ROWS2)
    src = SourceConfig(name="ticks", path=str(zdir), fmt="csv", schema=SCHEMA)
    fuser = TimeSeriesFuser([src])
    out = fuser.fused(spark).orderBy("__timestamp").collect()
    assert [(r["__timestamp"], r["Price"]) for r in out] == [
        (t, p) for (t, p, _) in WANT
    ]


ROWS3 = ROWS1 + ["3000,3.5,30"]


@pytest.mark.parametrize(
    "text",
    [
        "\n".join([HDR] + ROWS3 + ["  "]) + "\n",  # whitespace-only last line
        "\n \r\n" + "\n".join([HDR] + ROWS3) + "\n\t\n",  # blank lines around
    ],
    ids=["trailing_blank", "leading_blank"],
)
def test_zip_member_lines_follow_spark_csv_rules(spark, tmp_path, text):
    """A zip member's blank and whitespace-only lines are dropped and its
    first non-blank line is the header, as Spark's CSV reader does with
    the same text unzipped: both read 3 rows, probe the same window and
    fuse to 3 rows."""
    zdir, cdir = tmp_path / "z", tmp_path / "c"
    zdir.mkdir(), cdir.mkdir()
    (cdir / "d_1.csv").write_text(text)
    with zipfile.ZipFile(zdir / "d_1.zip", "w") as zf:
        zf.writestr("d_1.csv", text)
    windows = []
    for d in (cdir, zdir):
        src = SourceConfig(
            name="s", path=str(d), fmt="csv",
            schema={"Timestamp": int, "Price": float, "Qty": int},
            validate_headers=False,
        )
        assert collect(spark, src) == WANT[:3]
        windows.append(probe_source_window(spark, src))
        assert TimeSeriesFuser([src]).fused(spark).count() == 3
    assert windows[0] == windows[1] == (1000, 3000)
