"""The routing and BODC ladders against a plain-Python reading of their
rule tables, on a synthetic channel table that hits every BODC rule and
every routing include and exclude keyword (with NULL names and units, and
repeated bases so the numeric suffixes show), plus the cost of building
the BODC expression in py4j round trips."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cioos_siooc_data_transform_spark.operators.bodc import (
    BODC_RULES,
    assign_bodc_codes,
    bodc_codes,
)
from cioos_siooc_data_transform_spark.operators.routing import (
    CTD_ROUTING_RULES,
    dropped_channels,
)
from cioos_siooc_data_transform_spark.sources.ios_source import CHANNEL_STRUCT

CODE_FIELDS = [
    "channel_idx", "channel_name", "raw_units", "var_type", "var_code", "units",
    "standard_name", "long_name", "declared_min", "declared_max", "pad",
]


def _has(text, keywords) -> bool:
    return text is not None and any(k.upper() in text.upper() for k in keywords)


def py_route(name, rules=CTD_ROUTING_RULES):
    if name is None:
        return None
    for var_type, inc, exc in rules:
        if _has(name, inc) and not _has(name, exc):
            return var_type
    return None


def py_rule(var_type, name, units):
    """The first BODC rule that maps a routed channel, else None."""
    for rule in BODC_RULES:
        vt, ninc, nexc, uinc = rule[:4]
        if vt != var_type or (ninc and not _has(name, ninc)) or _has(name, nexc):
            continue
        if uinc and not _has(units, uinc):
            continue
        return rule
    return None


def py_codes(channels):
    """One file's channels → bodc_codes' array, as dicts (None = dropped)."""
    if channels is None:
        return None
    bases, out = [], []
    for c in channels:
        var_type = py_route(c["name"])
        rule = py_rule(var_type, c["name"], c["units"]) if var_type else None
        bases.append(rule and rule[4])
        if rule is None:
            out.append(None)
            continue
        _, _, _, _, base, width, units, std, long_name = rule
        n = bases.count(base)
        code = base if width == 0 else f"{base}{n:0{width}d}"
        out.append(dict(zip(CODE_FIELDS, [
            c["channel_idx"], c["name"], c["units"], var_type, code, units, std,
            long_name, c["minimum"], c["maximum"], c["pad"],
        ])))
    return out


def _channel(i, name, units):
    return {
        "channel_idx": i, "name": name, "units": units, "minimum": f"{-i}",
        "maximum": f"{i}", "pad": "-99" if i % 2 else None, "width": None,
        "fmt": None, "type": None,
    }


def _synthetic_files() -> dict[str, list | None]:
    """file_id → channel list (or None)."""
    names_units = []
    # every BODC rule, once per units keyword, in alternating case; the
    # name carries the rule's routing keyword and its name keyword
    for vt, ninc, nexc, uinc, *_ in BODC_RULES:
        route_kw = ninc[0] if vt == "nutrient" else next(
            r[1][0] for r in CTD_ROUTING_RULES if r[0] == vt
        )
        name = route_kw.title() + "".join(f":{k.upper()}" for k in ninc)
        for j, u in enumerate(uinc or ["m"]):
            names_units.append((name, u.upper() if j % 2 else f"'{u} (x)'"))
        if nexc:
            names_units.append((f"{name}:{nexc[0].title()}", uinc[0]))
    # every routing keyword; each exclusion next to its rule's includes
    for var_type, inc, exc in CTD_ROUTING_RULES:
        for k in inc:
            names_units.append((f"x_{k.swapcase()}_y", "deg C ITS-90 ml/l umol/L"))
        for k in exc:
            names_units.append((f"{inc[0]} {k.upper()}", "PSS-78"))
    # dropped, NULL and repeated channels
    names_units += [
        ("Transmissivity", "%"), (None, "deg C"), (None, None),
        ("Temperature", None), ("Depth", None), ("Pressure", "dbar"),
        ("Temperature:Secondary", "deg C (ITS-90)"), ("Oxygen:Dissolved", "mL/L"),
    ]
    whole = [_channel(i + 1, n, u) for i, (n, u) in enumerate(names_units)]
    return {
        "all_rules": whole,
        "reversed": [_channel(i + 1, c["name"], c["units"]) for i, c in enumerate(whole[::-1])],
        "repeats": [_channel(i + 1, "Temperature", "ITS-90") for i in range(3)]
        + [_channel(4, "Phosphate", "umol/L"), _channel(5, "Phosphate", "umol/L")],
        "empty": [],
        "null": None,
    }


@pytest.fixture(scope="module")
def files(spark):
    schema = T.StructType([
        T.StructField("file_id", T.StringType()),
        T.StructField("channels", T.ArrayType(CHANNEL_STRUCT)),
    ])
    rows = list(_synthetic_files().items())
    return spark.createDataFrame(rows, schema).cache()


def test_synthetic_table_hits_every_rule_and_keyword():
    channels = [c for cs in _synthetic_files().values() if cs for c in cs]
    rules = [py_rule(py_route(c["name"]), c["name"], c["units"]) for c in channels]
    assert {r[4] for r in rules if r} == {r[4] for r in BODC_RULES}
    names = [c["name"].upper() for c in channels if c["name"]]
    for _, inc, exc in CTD_ROUTING_RULES:
        assert all(any(k.upper() in n for n in names) for k in inc)
        assert all(any(k.upper() in n and _has(n, inc) for n in names) for k in exc)
    codes = {c["var_code"] for cs in _synthetic_files().values() for c in py_codes(cs) or [] if c}
    assert {"TEMPS901", "TEMPS902", "TEMPS903", "PHOSAAZ1", "PHOSAAZ2", "depth"} <= codes


def test_bodc_codes_match_the_python_ladder(files):
    got = {
        r["file_id"]: None if r["codes"] is None else [c and c.asDict() for c in r["codes"]]
        for r in files.select("file_id", bodc_codes("channels").alias("codes")).collect()
    }
    assert got == {f: py_codes(cs) for f, cs in _synthetic_files().items()}


def test_assign_bodc_codes_match_the_python_ladder(files):
    got = sorted(tuple(r) for r in assign_bodc_codes(files).collect())
    want = sorted(
        (f, *(c[k] for k in CODE_FIELDS))
        for f, cs in _synthetic_files().items()
        for c in py_codes(cs) or []
        if c
    )
    assert got == want


def test_dropped_channels_match_the_python_ladder(files):
    channels = files.select("file_id", F.inline("channels"))
    got = sorted((r["file_id"], r["channel_idx"]) for r in dropped_channels(channels).collect())
    want = sorted(
        (f, c["channel_idx"])
        for f, cs in _synthetic_files().items()
        for c in cs or []
        if py_route(c["name"]) is None
    )
    assert got == want


def test_rule_keywords_are_quoted_as_sql_literals(spark):
    rules = [("quote", ["o'brien"], []), ("slash", ["a\\b"], ["\\'"])]
    names = ["O'Brien Station", "x A\\B y", "a\\b \\'", "plain", None]
    channels = spark.createDataFrame([(n,) for n in names], "name string")
    got = sorted(str(r["name"]) for r in dropped_channels(channels, rules).collect())
    assert got == sorted(str(n) for n in names if py_route(n, rules) is None)


def test_bodc_codes_builds_in_a_few_round_trips(spark, monkeypatch):
    """The ladders reach the JVM as SQL text in one call; a Column tree
    costs a py4j round trip per node (about 1,700)."""
    from py4j.clientserver import ClientServerConnection

    bodc_codes("channels")  # the first call looks up JVM functions
    calls = []
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        calls.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    bodc_codes("channels")
    monkeypatch.undo()
    assert len(calls) <= 5
