"""Pure-Python IOS parser unit tests against the reference's own test
corpus (values pinned from the file headers themselves)."""

from __future__ import annotations

import glob
from datetime import datetime

import pytest

from cioos_siooc_data_transform_spark.sources.fortran_spec import (
    FortranFormatError,
    parse_format,
    read_record,
)
from cioos_siooc_data_transform_spark.sources.ios_format import (
    apply_col_mask,
    file_id_of,
    parse_dms,
    parse_ios_datetime,
    parse_ios_file_safe,
    parse_time_increment,
)

IDT = "/root/reference/cioos_data_transform/ios_data_transform/ios_data_transform/tests/test_files"


def _parse(path: str) -> dict:
    with open(path, encoding="ascii", errors="ignore") as f:
        return parse_ios_file_safe(path, f.read())


def test_ctd_profile_header():
    r = _parse(f"{IDT}/ctd_profile/2017-020-0474.ctd")
    assert r["error"] is None
    assert r["ios_header_version"] == "2.0 "
    assert r["n_records"] == 189 and len(r["records"]) == 189
    assert r["n_channels"] == 12 and len(r["channels"]) == 12
    assert r["start_ts"] == datetime(2017, 9, 10, 1, 0, 42)
    assert r["time_increment_s"] == pytest.approx(0.0416667)
    assert r["latitude"] == pytest.approx(71 + 23.31 / 60)
    assert r["longitude"] == pytest.approx(-(116 + 38.19 / 60))
    assert r["station"] == "MTI_HC3" and r["event_number"] == "474"
    assert r["mission"] == "2017-020"
    assert r["geographic_area_declared"] == "Beaufort Sea"
    assert r["channels"][2]["name"] == "Temperature:Primary"
    assert r["channels"][2]["units"] == "'deg C (ITS90)'"
    assert r["parse_strategy"] == "fixed_width"
    assert r["records"][0][:3] == ["3.1", "3.1", "6.2644"]


def test_mooring_timeseries_header():
    r = _parse(f"{IDT}/ctd_mooring/a1_20080429_20080518_0034m.ctd")
    assert r["n_records"] == 2647 and len(r["records"]) == 2647
    assert r["time_increment_s"] == 600.0
    assert r["start_ts"] == datetime(2008, 4, 29, 20, 40, 1)
    assert r["end_ts"] == datetime(2008, 5, 18, 5, 40, 1)
    # date/time channels survive as strings in the data block
    assert r["records"][0][1] == "2008/04/29" and r["records"][0][2] == "20:40:01"
    assert r["deployment_mission"] == "2008-32"


def test_bottle_pdt_timezone():
    r = _parse(f"{IDT}/bot/1990-033-0002.che")
    # PDT 16:53 + 7 h fixed offset → 23:53 UTC (IDT/ObsFile.py:185-203)
    assert r["start_ts"] == datetime(1990, 10, 12, 23, 53, 0)
    assert r["n_channels"] == 10
    assert r["channels"][2]["name"] == "Nitrate_plus_Nitrite"


def test_current_meter_fortran_path():
    path = glob.glob(f"{IDT}/current_meter/*.CUR")[0]
    r = _parse(path)
    assert r["parse_strategy"] == "fortran"
    assert r["format_fortran"] == "(E15.7,E15.7,E15.7,E15.7,E15.7)"
    assert r["n_records"] == 9022 and len(r["records"]) == 9022
    assert float(r["records"][0][0]) == pytest.approx(33.362)
    assert float(r["records"][0][1]) == -99999.0  # pad value, masked downstream


def test_whole_corpus_parses_cleanly():
    files = (
        glob.glob(f"{IDT}/ctd_profile/*.ctd")
        + glob.glob(f"{IDT}/ctd_mooring/*.ctd")
        + glob.glob(f"{IDT}/bot/*.che")
        + glob.glob(f"{IDT}/current_meter/*.CUR")
    )
    assert len(files) == 35
    for p in files:
        r = _parse(p)
        assert r["error"] is None, f"{p}: {r['error']}"
        assert len(r["records"]) == r["n_records"], p
        assert all(len(row) == r["n_channels"] for row in r["records"]), p


def test_error_isolation_instead_of_exit():
    r = parse_ios_file_safe("/tmp/bogus.ctd", "not an ios file at all")
    assert r["error"] is None or isinstance(r["error"], str)
    # a truly malformed header (bad channel count) must yield an error row
    bad = "*A\n*IOS HEADER VERSION 2.0\n*FILE\n    START TIME : BAD 2017/09/10 01:00:42.000\n"
    r2 = parse_ios_file_safe("/tmp/bad.ctd", bad)
    assert r2["error"] is not None and "timezone" in r2["error"]


def test_file_id_is_the_same_for_parsed_and_failed_files():
    assert file_id_of("/data/2017/2017-020-0474.ctd") == "2017-020-0474"
    assert file_id_of("C:\\data\\a1_0035m.CUR") == "a1_0035m"
    assert file_id_of("s3://bucket/x.y/cast.v2.ctd") == "cast.v2"
    assert file_id_of("cast") == "cast"
    # a failed parse names the file like a good one, whatever the separator
    bad = "*A\n*IOS HEADER VERSION 2.0\n*FILE\n    START TIME : BAD 2017/09/10 01:00:42.000\n"
    for path in ("/data/cast.ctd", "D:\\data\\cast.ctd"):
        r = parse_ios_file_safe(path, bad)
        assert r["error"] is not None and r["file_id"] == "cast"


def test_scalar_helpers():
    assert parse_dms(" 48  31.76700 N") == pytest.approx(48 + 31.767 / 60)
    assert parse_dms("126  12.21400 W") == pytest.approx(-(126 + 12.214 / 60))
    assert parse_time_increment("0 0 10 0 0  ! (day hr min sec ms)") == 600.0
    assert parse_time_increment("1 2 3 4 5") == 86400 + 7200 + 180 + 4 + 0.005
    assert parse_ios_datetime("MST 2020/01/01 00:00:00.000") == datetime(2020, 1, 1, 7)
    with pytest.raises(Exception):
        parse_ios_datetime("XXX 2020/01/01 00:00:00.000")


def test_apply_col_mask():
    mask = "    !---  ----  -----"
    row = "       1  -99   ' '  "
    # raw dash-span slices (stripping happens in parse_channels)
    assert [c.strip() for c in apply_col_mask(row, mask)] == ["1", "-99", "' '"]


def test_fortran_spec():
    fields = parse_format("(E15.7,E15.7,E15.7,E15.7,E15.7)")
    assert fields == [("E", 15)] * 5
    line = "  0.3336200E+02 -0.9999900E+05  0.1970100E+02  0.3299620E+03  0.2660000E+00"
    vals = read_record(fields, line)
    assert vals[0] == pytest.approx(33.362)
    assert vals[1] == -99999.0
    assert parse_format("(5E15.7)") == [("E", 15)] * 5
    assert parse_format("(F8.1,2F9.4,3X,I5)") == [
        ("F", 8), ("F", 9), ("F", 9), ("X", 3), ("I", 5)
    ]
    with pytest.raises(FortranFormatError):
        parse_format("(Q9.9)")
    with pytest.raises(FortranFormatError):
        read_record([("E", 15)], "               ")


def test_fortran_character_descriptor_falls_back():
    """A-descriptor FORMATs abort the fortran strategy (the reference's
    float() conversion raises there), dropping to the next strategy —
    and numeric cells are never repr-quoted."""
    from cioos_siooc_data_transform_spark.sources.ios_format import read_data

    lines = [
        "*END OF HEADER",
        "  1.5 abc",
        "  2.5 def",
    ]
    rows, strategy = read_data(lines, "(F5.1,A4)", [5, 4])
    assert strategy == "fixed_width"
    assert rows == [["1.5", "abc"], ["2.5", "def"]]

    # numeric-only FORMAT still uses the fortran path, unquoted
    rows2, strategy2 = read_data(
        ["*END OF HEADER", "  1.5  2.0"], "(F5.1,F5.1)", None
    )
    assert strategy2 == "fortran"
    assert rows2 == [["1.5", "2.0"]]
