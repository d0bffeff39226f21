"""Seeded IOS corpus and GeoJSON polygon generator for the benchmark.

Every file is a CTD profile in the IOS header format the engine parses:
``*FILE`` with a CHANNELS and a CHANNEL DETAIL table, ``*ADMINISTRATION``,
``*LOCATION``, ``*INSTRUMENT``, ``*COMMENTS`` and a fixed-width data
block. Channel names and units are ones the BODC ladder routes
(Pressure, Temperature, Salinity, Oxygen, Conductivity, Depth), mixed
with a few it drops (Fluorescence, Transmissivity, PAR), so a ``convert``
writes a measurements dataset whose row count is known in advance.

A seeded handful of files is damaged: truncated inside the START TIME
value or byte-flipped inside the NUMBER OF RECORDS value. Either way the
parser cannot read the file and must report it as an error row.

Everything is a pure function of the seed and the parameters; the
manifest returned by :func:`write_corpus` carries the expected counts the
benchmark checks outputs against.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np

# (name, units, low, high, decimals, routed by the BODC ladder)
BASE_CHANNELS = [
    ("Pressure", "decibar", 0.0, 4500.0, 1, True),
    ("Temperature", "deg C (ITS90)", -2.0, 25.0, 4, True),
    ("Salinity:T0:C0", "PSS-78", 20.0, 35.0, 4, True),
    ("Conductivity", "S/m", 2.0, 5.0, 5, True),
    ("Oxygen:Dissolved", "mL/L", 0.1, 9.0, 3, True),
]
EXTRA_CHANNELS = [
    ("Depth", "metres", 0.0, 4400.0, 1, True),
    ("Temperature:Secondary", "deg C (ITS90)", -2.0, 25.0, 4, True),
    ("Salinity:T1:C1", "PSS-78", 20.0, 35.0, 4, True),
    ("Oxygen:Dissolved:SBE", "umol/kg", 5.0, 400.0, 2, True),
    ("Conductivity:Secondary", "S/m", 2.0, 5.0, 5, True),
    ("Fluorescence:URU:Seapoint", "mg/m^3", 0.0, 30.0, 3, False),
    ("Transmissivity", "%/metre", 0.0, 100.0, 2, False),
    ("PAR", "uE/m^2/sec", 0.0, 2000.0, 2, False),
]
WIDTH = 11  # every data column is F11.d
PAD = -99.0
# BC coast: where IOS casts are taken and where the polygons are drawn
LAT_RANGE = (48.0, 55.0)
LON_RANGE = (-134.0, -122.5)


def _dms(value: float, pos: str, neg: str) -> str:
    hemi = pos if value >= 0 else neg
    value = abs(value)
    deg = int(value)
    return f"{deg:3d} {(value - deg) * 60.0:9.5f} {hemi}"


def _render(rng: np.random.Generator, idx: int, n_records: int, n_channels: int,
            year: int, fortran: bool) -> tuple[str, str, dict]:
    """One IOS file: returns (file_id, text, facts)."""
    # a fixed share of the extra channels is routed, so the work a file
    # makes depends on its size rank only; which ones and their order vary
    n_extra = n_channels - len(BASE_CHANNELS)
    routed = [c for c in EXTRA_CHANNELS if c[5]]
    dropped = [c for c in EXTRA_CHANNELS if not c[5]]
    n_routed = min(len(routed), round(n_extra * len(routed) / len(EXTRA_CHANNELS)))
    extra = [routed[i] for i in rng.permutation(len(routed))[:n_routed]]
    extra += [dropped[i] for i in rng.permutation(len(dropped))[: n_extra - n_routed]]
    channels = BASE_CHANNELS + [extra[i] for i in rng.permutation(n_extra)]

    month, day = int(rng.integers(1, 13)), int(rng.integers(1, 29))
    hh, mm, ss = (int(x) for x in rng.integers(0, [24, 60, 60]))
    zone = "UTC" if rng.random() < 0.8 else "PST"
    lat = float(rng.uniform(*LAT_RANGE))
    lon = float(rng.uniform(*LON_RANGE))
    ext = "CTD" if rng.random() < 0.1 else "ctd"
    file_id = f"{year}-{idx:05d}-{int(rng.integers(1, 9999)):04d}"

    # rows line up with the '!---' dash masks of the two tables below
    ch_rows, det_rows = [], []
    for i, (name, units, lo, hi, dec, _) in enumerate(channels, start=1):
        ch_rows.append(
            f"    {i:>4d}  {name:<26} {units:<15} {lo:<11.{dec}f} {hi:<11.{dec}f}"
        )
        fortran_fmt = f"F{WIDTH}.{dec}"
        det_rows.append(
            f"    {i:>4d}  {PAD:<5.0f}  ' '    {WIDTH:>5d}  {fortran_fmt:<6}  R4    {dec:>3d}"
        )

    # data block: a smooth profile per channel plus noise, a sprinkle of pads
    depth = np.linspace(0.0, 1.0, n_records)[:, None]
    lows = np.array([c[2] for c in channels])
    highs = np.array([c[3] for c in channels])
    frac = np.clip(depth + rng.normal(0.0, 0.01, (n_records, n_channels)), 0.0, 1.0)
    values = lows + (highs - lows) * frac
    pads = rng.random((n_records, n_channels)) < 0.002
    values[pads] = PAD
    row_fmt = "".join(f"%{WIDTH}.{c[4]}f" for c in channels)
    body = "\n".join(row_fmt % tuple(r) for r in values.tolist())

    fmt_line = (
        "    FORMAT              : ("
        + ",".join(f"F{WIDTH}.{c[4]}" for c in channels)
        + ")\n"
        if fortran
        else ""
    )
    text = f"""*{year:04d}/{month:02d}/{day:02d} {hh:02d}:{mm:02d}:{ss:02d}.00
*IOS HEADER VERSION 2.0      2016/04/28 2016/06/13 IVF16

*FILE
    START TIME          : {zone} {year:04d}/{month:02d}/{day:02d} {hh:02d}:{mm:02d}:{ss:02d}.000
    NUMBER OF RECORDS   : {n_records}
    DATA DESCRIPTION    : CTD
    FILE TYPE           : ASCII
    NUMBER OF CHANNELS  : {n_channels}
    PAD                 : {PAD:.0f}
{fmt_line}
    $TABLE: CHANNELS
    ! No  Name                       Units           Minimum     Maximum
    !---  -------------------------- --------------- ----------- -----------
{chr(10).join(ch_rows)}
    $END

    $TABLE: CHANNEL DETAIL
    ! No  Pad    Start  Width  Format  Type  Decimal_Places
    !---  -----  -----  -----  ------  ----  --------------
{chr(10).join(det_rows)}
    $END

*ADMINISTRATION
    MISSION             : {year:04d}-{idx % 97:03d}
    AGENCY              : IOS, Ocean Sciences Division, Sidney, B.C.
    COUNTRY             : Canada
    PROJECT             : Synthetic Line {idx % 7}
    SCIENTIST           : Observer {idx % 13}
    PLATFORM            : Vessel {idx % 5}

*LOCATION
    STATION             : S{idx % 211:03d}
    EVENT NUMBER        : {idx}
    LATITUDE            : {_dms(lat, "N", "S")}  ! (deg min)
    LONGITUDE           : {_dms(lon, "E", "W")}  ! (deg min)
    WATER DEPTH         : {int(highs[0]) + 50}

*INSTRUMENT
    TYPE                : Sea-Bird CTD
    MODEL               : SBE 911plus
    SERIAL NUMBER       : {idx % 1000:04d}

*COMMENTS
    Synthetic cast {idx} for the conversion benchmark.

*END OF HEADER
{body}
"""
    facts = {
        "file_id": file_id,
        "year": year,
        "ext": ext,
        "n_records": n_records,
        "n_channels": n_channels,
        "n_routed": sum(1 for c in channels if c[5]),
    }
    return file_id, text, facts


def _corrupt(rng: np.random.Generator, text: str, kind: str) -> str:
    """Damage one file so that parsing it must fail."""
    if kind == "truncated":
        # cut inside the START TIME value: the timestamp can no longer parse
        start = text.index("START TIME") + text[text.index("START TIME"):].index(":") + 6
        return text[: start + int(rng.integers(1, 8))]
    # byte flip: a digit of NUMBER OF RECORDS becomes a letter (0x30.. -> 0x70..)
    key = text.index("NUMBER OF RECORDS")
    digits_at = text.index(":", key) + 2
    n_digits = len(text[digits_at:].split("\n", 1)[0].strip())
    pos = digits_at + int(rng.integers(0, n_digits))
    return text[:pos] + chr(ord(text[pos]) ^ 0x40) + text[pos + 1:]


def write_corpus(
    root: str,
    seed: int,
    n_files: int,
    records: tuple[int, int],
    channels: tuple[int, int],
    n_corrupt: int = 0,
    first_index: int = 0,
) -> dict:
    """Write ``n_files`` IOS files under ``root/<year>/`` and return the
    manifest: the files, their facts and the corrupt set.

    Record counts are the quantiles, from 0 to 1, of a density proportional
    to 1/n^2 over ``records`` (many short casts, a few long ones), the j-th
    smallest with the j-th count of ``channels`` cycled; years cycle
    through 2010-2024, and three
    files in ten carry a Fortran FORMAT. These multisets are the same for
    every seed, so the work per pass barely moves between seeds; the seed
    decides which file gets which, every value in them, and which of the
    smallest files are damaged."""
    rng = np.random.default_rng([seed, n_files, first_index])
    q = np.linspace(0.0, 1.0, n_files)
    inv_lo, inv_hi = 1.0 / records[0], 1.0 / records[1]
    sizes = np.rint(1.0 / (inv_lo - q * (inv_lo - inv_hi))).astype(int)
    order = rng.permutation(n_files)  # file order[j] gets the j-th smallest size
    n_recs = np.empty(n_files, dtype=int)
    n_recs[order] = sizes
    n_chans = np.empty(n_files, dtype=int)
    n_chans[order] = channels[0] + np.arange(n_files) % (channels[1] - channels[0] + 1)
    years = (2010 + np.arange(n_files) % 15)[rng.permutation(n_files)]
    fortran = (np.arange(n_files) % 10 < 3)[rng.permutation(n_files)]
    corrupt_kind = {int(i): ("truncated", "flipped")[k % 2] for k, i in enumerate(order[:n_corrupt])}

    files, total_bytes = [], 0
    for i in range(n_files):
        idx = first_index + i
        file_id, text, facts = _render(
            rng, idx, int(n_recs[i]), int(n_chans[i]), int(years[i]), bool(fortran[i])
        )
        facts["corrupt"] = corrupt_kind.get(i)
        if facts["corrupt"]:
            text = _corrupt(rng, text, facts["corrupt"])
        rel = os.path.join(str(facts["year"]), f"{file_id}.{facts['ext']}")
        os.makedirs(os.path.join(root, str(facts["year"])), exist_ok=True)
        data = text.encode("ascii")
        with open(os.path.join(root, rel), "wb") as f:
            f.write(data)
        facts["relpath"] = rel
        facts["bytes"] = len(data)
        total_bytes += len(data)
        files.append(facts)
    return {"files": files, "bytes": total_bytes}


def expected_counts(manifest: dict) -> dict:
    """What a ``convert`` of the manifest's files must produce."""
    good = [f for f in manifest["files"] if not f["corrupt"]]
    return {
        "files": len(manifest["files"]),
        "errors": sorted(f["file_id"] for f in manifest["files"] if f["corrupt"]),
        "measurement_rows": sum(f["n_records"] * f["n_routed"] for f in good),
        "netcdf_files": len(good),
    }


def write_geojson(path: str, seed: int, n_polygons: int = 51) -> None:
    """Star-shaped polygons over the corpus area, named "Synthetic Area NN".

    Centres sit on a jittered grid so that most casts fall in one area,
    some in two (overlaps) and some in none."""
    rng = np.random.default_rng([seed, n_polygons])
    cols = int(math.ceil(math.sqrt(n_polygons * 1.6)))
    rows = int(math.ceil(n_polygons / cols))
    dx = (LON_RANGE[1] - LON_RANGE[0]) / cols
    dy = (LAT_RANGE[1] - LAT_RANGE[0]) / rows
    features = []
    for k in range(n_polygons):
        cx = LON_RANGE[0] + dx * ((k % cols) + 0.5 + rng.uniform(-0.2, 0.2))
        cy = LAT_RANGE[0] + dy * ((k // cols) + 0.5 + rng.uniform(-0.2, 0.2))
        n_vertices = int(rng.integers(8, 15))
        angles = np.sort(rng.uniform(0.0, 2 * math.pi, n_vertices))
        radii = rng.uniform(0.35, 0.75, n_vertices)
        ring = [
            [round(cx + dx * r * math.cos(a), 6), round(cy + dy * r * math.sin(a), 6)]
            for a, r in zip(angles.tolist(), radii.tolist())
        ]
        ring.append(ring[0])
        features.append(
            {
                "type": "Feature",
                "properties": {"name": f"Synthetic Area {k:02d}"},
                "geometry": {"type": "Polygon", "coordinates": [ring]},
            }
        )
    with open(path, "w") as f:
        json.dump({"type": "FeatureCollection", "features": features}, f)
