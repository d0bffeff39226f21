"""Pure-Python IOS observation-file parser (SURVEY.md §2.1 S2-S11).

From-scratch reimplementation of the reference's parsing CONTRACT (not its
code): section scanning (IDT/ObsFile.py:87-129), comments-like sections
(:350-376), column-mask tables (:332-348), CHANNELS (:319-330) and CHANNEL
DETAIL with struct-width synthesis (:280-317), the three data-block
strategies with their fallback order (:215-252, 423-434), DMS conversion
(:261-274), fixed-offset timezone handling (:161-208) and TIME INCREMENT
decode (:149-159).

This module has no Spark dependency: it is shipped to executors and driven
by mapInPandas in ios_source.py, and unit-tested standalone against the
reference's own test corpus.

Deliberate divergences from the reference (SURVEY.md §1.3.7 — bugs fixed):
- unreadable files report an error row instead of exit(0);
- unknown timezones yield an error instead of killing the batch.
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta

from cioos_siooc_data_transform_spark.sources.fortran_spec import (
    parse_format,
    read_record,
)

# Single shared definition with the SQL-expression path — see
# functions/constants.py (two copies had already drifted in type).
from cioos_siooc_data_transform_spark.functions.constants import (
    FIXED_TZ_OFFSET_HOURS as TZ_OFFSET_HOURS,
    TIME_INCREMENT_WEIGHTS,
)

COMMENT_SECTIONS = ("COMMENTS", "REMARKS", "HISTORY")


class IosParseError(ValueError):
    pass


# ---------------------------------------------------------------------------
# Line/section scanning
# ---------------------------------------------------------------------------
def split_lines(content: str) -> list[str]:
    """File content → lines without newline chars (the reference reads in
    text mode, which normalizes CRLF)."""
    return content.replace("\r\n", "\n").replace("\r", "\n").split("\n")


def find_index(lines: list[str], prefix: str) -> int:
    """First line whose lstrip() starts with prefix; −1 if absent."""
    for i, line in enumerate(lines):
        if line.lstrip().startswith(prefix):
            return i
    return -1


def list_sections(lines: list[str]) -> list[str]:
    """All '*SECTION' names after the first two lines, excluding '*END…'
    and decorative '**'/'* ' lines."""
    out = []
    for line in lines[2:]:
        if (
            line.startswith("*")
            and not line.startswith("*END")
            and len(line) > 1
            and line[1] not in ("*", " ", "\n")
        ):
            out.append(line.strip()[1:])
    return out


def get_section(lines: list[str], name: str) -> dict:
    """Scan a '*NAME' section into {KEY: value}; '$...' subsections are
    kept as raw line lists under their '$TABLE: X' key. Mirrors the
    stopping rules of the reference scanner exactly: stop at a line whose
    FIRST character is '$' or '*'; skip blanks and '!' comment lines."""
    idx = find_index(lines, "*" + name)
    if idx == -1:
        return {}
    info: dict = {}
    while True:
        idx += 1
        if idx >= len(lines):
            break
        line = lines[idx]
        if len(line.strip()) == 0:
            continue
        if line[0] == "!":
            continue
        if line[0] in ("$", "*"):
            break
        if "$" in line[1:5]:
            # subsection ($TABLE:/$REMARKS), raw lines until $END
            record_name = line.strip()
            body: list[str] = []
            while True:
                idx += 1
                if idx >= len(lines) or lines[idx].strip()[0:4] == "$END":
                    break
                body.append(lines[idx])
            info[record_name] = body
            continue
        parts = line.split(":", 1)
        if len(parts) > 1:
            info[parts[0].strip()] = parts[1]
    return info


def get_comments_like(lines: list[str], name: str) -> dict[str, str]:
    """COMMENTS/REMARKS/HISTORY: {running-line-offset: text} — offsets
    count every scanned line (including skipped blanks), matching the
    reference's numbering."""
    idx = find_index(lines, "*" + name)
    if idx == -1:
        return {}
    info: dict[str, str] = {}
    count = 0
    while True:
        idx += 1
        count += 1
        if idx >= len(lines):
            break
        line = lines[idx]
        if len(line.strip()) == 0:
            continue
        if line[0] == "!":
            continue
        if line[0] in ("$", "*"):
            break
        info[f"{count:d}"] = line.rstrip()
    return info


# ---------------------------------------------------------------------------
# Column-mask tables
# ---------------------------------------------------------------------------
def apply_col_mask(row: str, mask: str) -> list[str]:
    """Slice a table row by the dash-spans of its '!--- ----' mask line."""
    data = row.rstrip().ljust(len(mask))
    kept = [c if m == "-" else "*" for c, m in zip(data, mask)]
    return [tok for tok in "".join(kept).split("*") if tok != ""]


def parse_channels(table_lines: list[str]) -> list[dict]:
    """$TABLE: CHANNELS → [{channel_idx, name, units, minimum, maximum}]."""
    mask = table_lines[1].rstrip()
    out = []
    for i, row in enumerate(table_lines[2:], start=1):
        cols = [c.strip() for c in apply_col_mask(row, mask)]
        out.append(
            {
                "channel_idx": i,
                "name": cols[1] if len(cols) > 1 else "",
                "units": cols[2] if len(cols) > 2 else "",
                "minimum": cols[3] if len(cols) > 3 else "",
                "maximum": cols[4] if len(cols) > 4 else "",
            }
        )
    return out


def parse_channel_detail(table_lines: list[str], n_channels: int) -> list[dict]:
    """$TABLE: CHANNEL DETAIL → [{pad, width, fmt, type, slot_width}].

    slot_width follows the reference's struct-format synthesis: D→11,
    DT→17, HH:MM:SS→9, HH:MM→6, else declared width. A channel-count
    mismatch raises (the reference's validation)."""
    mask = table_lines[1].rstrip()
    out = []
    for row in table_lines[2:]:
        cols = [c.strip() for c in apply_col_mask(row, mask)]
        pad = cols[1] if len(cols) > 1 else ""
        width = cols[3] if len(cols) > 3 else ""
        fmt = cols[4] if len(cols) > 4 else ""
        ctype = cols[5] if len(cols) > 5 else ""
        if ctype.strip() == "D":
            slot = 11
        elif ctype.strip() == "DT":
            slot = 17
        elif fmt.strip().upper() == "HH:MM:SS":
            slot = 9
        elif fmt.strip().upper() == "HH:MM":
            slot = 6
        else:
            slot = int(width.strip()) if width.strip() else 0
        out.append({"pad": pad, "width": width, "fmt": fmt, "type": ctype, "slot_width": slot})
    if n_channels != len(out):
        raise IosParseError(
            f"NUMBER OF CHANNELS {n_channels} != channel detail rows {len(out)}"
        )
    return out


# ---------------------------------------------------------------------------
# Scalars: dates, DMS, time increment
# ---------------------------------------------------------------------------
def parse_ios_datetime(raw: str) -> datetime:
    """'UTC 2017/09/10 01:00:42.000' → naive UTC datetime via the fixed
    offset map. Unknown zone → IosParseError (reference raises too)."""
    s = raw.strip().upper()
    zone = s[0:3]
    body = s[4:].strip()
    try:
        dt = datetime.strptime(body, "%Y/%m/%d %H:%M:%S.%f")
    except ValueError:
        dt = datetime.strptime(body, "%Y/%m/%d")
    if zone not in TZ_OFFSET_HOURS:
        raise IosParseError(f"unknown timezone {zone!r} in {raw!r}")
    return dt + timedelta(hours=TZ_OFFSET_HOURS[zone])


def parse_dms(raw: str) -> float:
    """' 71  23.31000 N' → signed decimal degrees (deg + min/60; S/W → −)."""
    parts = raw.split()
    val = float(parts[0]) + float(parts[1]) / 60.0
    if len(parts) > 2 and parts[2] in ("S", "W"):
        val = -val
    return val


def parse_time_increment(raw: str) -> float:
    """'0 0 0 0.416667E-01 0  ! (day hr min sec ms)' → float seconds."""
    vals = [float(x) for x in raw.split("!")[0].split()]
    return sum(v * w for v, w in zip(vals, TIME_INCREMENT_WEIGHTS))


# ---------------------------------------------------------------------------
# Data block: FORMAT → fixed-width → whitespace fallback chain
# ---------------------------------------------------------------------------
def read_data_fortran(data_lines: list[str], formatline: str) -> list[list[str]]:
    """FORMAT-driven strategy. A (character) descriptors abort it — the
    reference converts every field with float(), so a character field
    raises there and drops the file to the fixed-width strategy
    (IDT/ObsFile.py read loop); mirroring that keeps the two engines
    choosing the same strategy per file. str(v) (not repr) keeps numeric
    cells unquoted."""
    from cioos_siooc_data_transform_spark.sources.fortran_spec import (
        FortranFormatError,
    )

    fields = parse_format(formatline)
    if any(kind == "A" for kind, _ in fields):
        raise FortranFormatError(
            "A (character) descriptor: FORMAT strategy is numeric-only "
            "(reference parity) — falling back to fixed-width"
        )
    out = []
    for line in data_lines:
        if len(line) > 0:
            out.append([str(v) for v in read_record(fields, line)])
    return out


def read_data_fixed_width(data_lines: list[str], slot_widths: list[int]) -> list[list[str]]:
    """struct.unpack equivalent: consecutive slot_width slices. A
    (rstripped) line longer than the total width is a strategy failure,
    like struct.unpack's size check."""
    total = sum(slot_widths)
    out = []
    for line in data_lines:
        if len(line.strip()) <= 1:
            continue
        padded = line.rstrip().ljust(total)
        if len(padded) != total:
            raise IosParseError(
                f"line width {len(line.rstrip())} exceeds format width {total}"
            )
        row, pos = [], 0
        for w in slot_widths:
            row.append(padded[pos : pos + w].strip())
            pos += w
        out.append(row)
    return out


def read_data_whitespace(data_lines: list[str]) -> list[list[str]]:
    out = []
    for line in data_lines:
        if line.strip():
            out.append(line.split())
    return out


def read_data(
    lines: list[str], formatline: str | None, slot_widths: list[int] | None
) -> tuple[list[list[str]], str]:
    """Apply the reference's strategy chain; return (rows, strategy)."""
    idx = find_index(lines, "*END OF HEADER")
    data_lines = lines[idx + 1 :]
    if formatline:
        try:
            return read_data_fortran(data_lines, formatline), "fortran"
        except Exception:
            pass
    if slot_widths and all(w > 0 for w in slot_widths):
        try:
            return read_data_fixed_width(data_lines, slot_widths), "fixed_width"
        except Exception:
            pass
    return read_data_whitespace(data_lines), "whitespace"


# ---------------------------------------------------------------------------
# Whole-file parse
# ---------------------------------------------------------------------------
def _strip_custom(value: str | None) -> str | None:
    """Header values may carry trailing '! custom item' comments."""
    if value is None:
        return None
    return value.split("!")[0].strip()


def _opt_float(value: str | None) -> float | None:
    v = _strip_custom(value)
    if not v:
        return None
    try:
        return float(v.split()[0])
    except ValueError:
        return None


def file_id_of(path: str) -> str:
    """The file's basename without its extension, for '/' and '\\' paths."""
    return re.sub(r"\.[^.]*$", "", re.split(r"[/\\]", path)[-1])


def parse_ios_file(path: str, content: str) -> dict:
    """Parse one IOS observation file into a nested record (see
    ios_source.PARSED_SCHEMA for the Spark-side schema)."""
    lines = split_lines(content)
    hv_idx = find_index(lines, "*IOS HEADER VERSION")
    header_version = lines[hv_idx][20:24] if hv_idx >= 0 else ""

    file_sec = get_section(lines, "FILE")
    location = get_section(lines, "LOCATION")
    admin = get_section(lines, "ADMINISTRATION")
    instrument = get_section(lines, "INSTRUMENT")
    deployment = get_section(lines, "DEPLOYMENT")
    recovery = get_section(lines, "RECOVERY")

    n_records = int(_strip_custom(file_sec.get("NUMBER OF RECORDS", "0")) or 0)
    n_channels = int(_strip_custom(file_sec.get("NUMBER OF CHANNELS", "0")) or 0)

    channels = (
        parse_channels(file_sec["$TABLE: CHANNELS"])
        if "$TABLE: CHANNELS" in file_sec
        else []
    )
    details = (
        parse_channel_detail(file_sec["$TABLE: CHANNEL DETAIL"], n_channels)
        if "$TABLE: CHANNEL DETAIL" in file_sec
        else []
    )
    for ch, det in zip(channels, details):
        ch.update(det)

    start_raw = file_sec.get("START TIME")
    end_raw = file_sec.get("END TIME")
    start_ts = parse_ios_datetime(start_raw) if start_raw else None
    end_ts = parse_ios_datetime(end_raw) if end_raw else None

    inc_raw = file_sec.get("TIME INCREMENT")
    time_increment_s = parse_time_increment(inc_raw) if inc_raw else None
    # Mooring fallback: infer dt from the span when TIME INCREMENT is
    # missing (IDT/ObsFile.py:501-505).
    if time_increment_s is None and start_ts and end_ts and n_records > 1:
        time_increment_s = (end_ts - start_ts).total_seconds() / (n_records - 1)

    formatline = _strip_custom(file_sec.get("FORMAT"))
    slot_widths = [c.get("slot_width", 0) for c in channels] if details else None
    records, strategy = read_data(lines, formatline, slot_widths)

    comments = {sec: get_comments_like(lines, sec) for sec in COMMENT_SECTIONS}

    def sec_kv(section: dict) -> dict:
        return {
            k: v.rstrip() if isinstance(v, str) else "\n".join(x.rstrip() for x in v)
            for k, v in section.items()
        }

    return {
        "file_id": file_id_of(path),
        "path": path,
        "ios_header_version": header_version,
        "start_ts": start_ts,
        "end_ts": end_ts,
        "time_increment_s": time_increment_s,
        "n_records": n_records,
        "n_channels": n_channels,
        "data_description": _strip_custom(file_sec.get("DATA DESCRIPTION")),
        "pad_default": _strip_custom(file_sec.get("PAD")),
        "format_fortran": formatline,
        "latitude": parse_dms(location.get("LATITUDE", "").split("!")[0]) if location.get("LATITUDE") else None,
        "longitude": parse_dms(location.get("LONGITUDE", "").split("!")[0]) if location.get("LONGITUDE") else None,
        "station": _strip_custom(location.get("STATION")),
        "event_number": _strip_custom(location.get("EVENT NUMBER")),
        "geographic_area_declared": _strip_custom(location.get("GEOGRAPHIC AREA")),
        "water_depth": _opt_float(location.get("WATER DEPTH")),
        "mission": _strip_custom(admin.get("MISSION")) or _strip_custom(admin.get("CRUISE")),
        "agency": _strip_custom(admin.get("AGENCY")),
        "country": _strip_custom(admin.get("COUNTRY")),
        "project": _strip_custom(admin.get("PROJECT")),
        "scientist": _strip_custom(admin.get("SCIENTIST")),
        "platform": _strip_custom(admin.get("PLATFORM")),
        "instrument_type": _strip_custom(instrument.get("TYPE")),
        "instrument_model": _strip_custom(instrument.get("MODEL")),
        "instrument_serial": _strip_custom(instrument.get("SERIAL NUMBER")),
        "instrument_depth": _opt_float(instrument.get("DEPTH")),
        "deployment_mission": _strip_custom(deployment.get("MISSION")),
        "recovery_mission": _strip_custom(recovery.get("MISSION")),
        "section_names": list_sections(lines),
        "comments_json": comments,
        "header_sections": {
            "FILE": sec_kv(file_sec),
            "LOCATION": sec_kv(location),
            "ADMINISTRATION": sec_kv(admin),
            "INSTRUMENT": sec_kv(instrument),
            "DEPLOYMENT": sec_kv(deployment),
            "RECOVERY": sec_kv(recovery),
        },
        "parse_strategy": strategy,
        "channels": channels,
        "records": records,
        "error": None,
    }


def parse_ios_file_safe(path: str, content: str) -> dict:
    """Error-isolating wrapper: a malformed file yields an error row
    instead of killing the batch (fixes the reference's exit(0),
    SURVEY.md §1.3.7)."""
    try:
        return parse_ios_file(path, content)
    except Exception as exc:  # noqa: BLE001 — deliberate per-file isolation
        return {
            "file_id": file_id_of(path),
            "path": path,
            "ios_header_version": "",
            "start_ts": None,
            "end_ts": None,
            "time_increment_s": None,
            "n_records": 0,
            "n_channels": 0,
            "data_description": None,
            "pad_default": None,
            "format_fortran": None,
            "latitude": None,
            "longitude": None,
            "station": None,
            "event_number": None,
            "geographic_area_declared": None,
            "water_depth": None,
            "mission": None,
            "agency": None,
            "country": None,
            "project": None,
            "scientist": None,
            "platform": None,
            "instrument_type": None,
            "instrument_model": None,
            "instrument_serial": None,
            "instrument_depth": None,
            "deployment_mission": None,
            "recovery_mission": None,
            "section_names": [],
            "comments_json": {},
            "header_sections": {},
            "parse_strategy": "",
            "channels": [],
            "records": [],
            "error": f"{type(exc).__name__}: {exc}",
        }
