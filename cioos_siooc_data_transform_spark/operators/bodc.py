"""BODC code assignment (SURVEY.md §2.3 J3 + §2.5 W2).

Reimplements the contract of IDT/OceanNcVar.py:160-258 (__get_bodc_code)
and IDT/write_ctd_ncfile.py:92-148 as a CASE ladder applied to each
file's own channel array:

- each routed channel maps (var_type × name keywords × units keywords) →
  (base code, numeric-suffix width, canonical units, CF names);
- the reference probes code+'{:0Nd}' against already-assigned names in
  file order (IDT/OceanNcVar.py:95-110); walking channels in order, the
  nth channel of a base always gets suffix n — the count of the file's
  channels with that base up to and including this one;
- unmatched/unmappable channels are dropped, like the reference's log-and-
  skip (IDT/write_ctd_ncfile.py:142-143).

Reference bugs deliberately fixed (SURVEY.md §1.3.7): longitude's
standard_name is 'longitude' (reference sets 'latitude',
IDT/OceanNcVar.py:63); declared min/max are carried unswapped (reference
swaps them, IDT/OceanNcVar.py:17-18).

The ladders are SQL text built from BODC_RULES and the routing table
(operators/routing.py) with plain string functions; the whole per-file
expression reaches the JVM in one ``F.expr``, where a Column tree would
cost a py4j round trip per node (1,705 per call).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cioos_siooc_data_transform_spark.operators.routing import (
    _contains_any,
    routing_sql,
    sql_ident,
    sql_literal,
)

# (var_type, name_includes, name_excludes, units_includes,
#  base_code, suffix_width, canonical_units, standard_name, long_name)
# First matching rule wins (the reference's if/elif ladder order).
BODC_RULES: list[tuple] = [
    ("temperature", ["reversing"], [], ["deg c"],
     "TEMPRTN", 1, "deg C", "sea_water_temperature", "Sea Water Temperature"),
    ("temperature", [], [], ["its90", "its-90"],
     "TEMPS9", 2, "deg C", "sea_water_temperature", "Sea Water Temperature"),
    ("temperature", [], [], ["ipts-68", "ipts68"],
     "TEMPS6", 2, "deg C", "sea_water_temperature", "Sea Water Temperature"),
    ("temperature", [], [], ["deg c", "degc"],
     "TEMPST", 2, "deg C", "sea_water_temperature", "Sea Water Temperature"),
    ("salinity", [], ["bottle"], ["pss-78"],
     "PSALST", 2, "PSS-78", "sea_water_practical_salinity", "Sea Water Practical Salinity"),
    ("salinity", [], ["bottle"], ["ppt"],
     "SSALST", 2, "PPT", "sea_water_practical_salinity", "Sea Water Practical Salinity"),
    ("salinity", ["bottle"], [], ["pss-78"],
     "PSALBST", 1, "PSS-78", "sea_water_practical_salinity", "Sea Water Practical Salinity"),
    ("salinity", ["bottle"], [], ["ppt"],
     "ODSDM021", 0, "PPT", "sea_water_practical_salinity", "Sea Water Practical Salinity"),
    ("oxygen", [], [], ["ml/l"],
     "DOXYZZ", 2, "mL/L", "dissolved_oxygen_concentration", "Oxygen concentration"),
    ("oxygen", [], [], ["umol/kg"],
     "DOXMZZ", 2, "umol/kg", "dissolved_oxygen_concentration", "Oxygen concentration"),
    ("oxygen", [], [], ["umol/l"],
     "DOXY", 2, "umol/L", "dissolved_oxygen_concentration", "Oxygen concentration"),
    ("conductivity", [], [], ["s/m"],
     "CNDCST", 2, "S/m", "sea_water_electrical_conductivity", "Sea Water Electrical Conductivity"),
    ("conductivity", [], [], ["ms/cm"],
     "CNDCSTX", 2, "mS/cm", "sea_water_electrical_conductivity", "Sea Water Electrical Conductivity"),
    ("nutrient", ["nitrate_plus_nitrite"], [], ["umol/l"],
     "NTRZAAZ", 1, "umol/L", "mole_concentration_of_nitrate_and_nitrite_in_sea_water",
     "Mole Concentration of Nitrate and Nitrite in Sea Water"),
    ("nutrient", ["phosphate"], [], ["umol/l"],
     "PHOSAAZ", 1, "umol/L", "mole_concentration_of_phosphate_in_sea_water",
     "Mole Concentration of Phosphate in Sea Water"),
    ("nutrient", ["silicate"], [], ["umol/l"],
     "SLCAAAZ", 1, "umol/L", "mole_concentration_of_silicate_in_sea_water",
     "Mole Concentration of Silicate in Sea Water"),
    # Fixed-name variable families (no BODC numbering):
    ("pressure", [], [], ["dbar", "dbars", "decibar"],
     "PRESPR01", 0, "decibar", "sea_water_pressure", "Pressure"),
    ("depth", [], [], [],
     "depth", 0, "m", "depth_below_sea_level_in_meters", "Depth in meters"),
]


def _named_struct(fields: dict[str, str]) -> str:
    """SQL named_struct of field name → SQL expression."""
    return "named_struct(" + ", ".join(f"{sql_literal(k)}, {v}" for k, v in fields.items()) + ")"


def _base_sql(var_type: str, name: str, units: str) -> str:
    """SQL CASE ladder over three string expressions → struct(base, width,
    units, std_name, long_name); NULL when no rule matches (reference
    raises; we drop + can audit)."""
    whens = []
    for vt, ninc, nexc, uinc, base, width, cu, std, lng in BODC_RULES:
        cond = [f"{var_type} = {sql_literal(vt)}"]
        if ninc:
            cond.append(_contains_any(name, ninc))
        if nexc:
            cond.append(f"NOT {_contains_any(name, nexc)}")
        if uinc:
            cond.append(_contains_any(units, uinc))
        struct = _named_struct({
            "base": sql_literal(base), "width": str(width), "units": sql_literal(cu),
            "std_name": sql_literal(std), "long_name": sql_literal(lng),
        })
        whens.append(f"WHEN {' AND '.join(cond)} THEN {struct}")
    null = "CAST(NULL AS struct<base:string,width:int,units:string,std_name:string,long_name:string>)"
    return f"CASE {' '.join(whens)} ELSE {null} END"


def bodc_codes(channels: str) -> Column:
    """The array column ``channels`` of a file → an array of the same
    length holding, per channel, struct(channel_idx, channel_name,
    raw_units, var_type, var_code, units, standard_name, long_name,
    declared_min, declared_max, pad) — or NULL where routing drops the
    channel or no rule maps it."""
    # route first, in a transform of its own: the BODC ladder reads
    # var_type in every rule, and would otherwise repeat the routing ladder
    routed = _named_struct({"c": "c", "var_type": routing_sql("c.name")})
    base = _base_sql("m.var_type", "m.c.name", "m.c.units")
    mapped = _named_struct({"c": "m.c", "var_type": "m.var_type", "b": base})
    mapped = f"transform(transform({sql_ident(channels)}, c -> {routed}), m -> {mapped})"
    # suffix n: this channel's occurrence among the file's channels with
    # the same base, counted up to and including it
    n = "size(filter(slice(ms, 1, i + 1), x -> x.b.base = m.b.base))"
    code = (
        f"CASE WHEN m.b.width = 0 THEN m.b.base"
        f" WHEN m.b.width = 1 THEN format_string('%s%01d', m.b.base, {n})"
        f" ELSE format_string('%s%02d', m.b.base, {n}) END"
    )
    coded = _named_struct({
        "channel_idx": "m.c.channel_idx", "channel_name": "m.c.name",
        "raw_units": "m.c.units", "var_type": "m.var_type", "var_code": code,
        "units": "m.b.units", "standard_name": "m.b.std_name",
        "long_name": "m.b.long_name", "declared_min": "m.c.minimum",
        "declared_max": "m.c.maximum", "pad": "m.c.pad",
    })
    coded = f"CASE WHEN m.b IS NOT NULL THEN {coded} END"
    # wrapping `mapped` in a one-element array binds it to a lambda
    # variable, so the numbering reads the evaluated array instead of
    # re-running both ladders for every channel (coding 21,000 files on
    # 2 cores: 5.2 s → 2.2 s)
    return F.expr(f"get(transform(array({mapped}), ms -> transform(ms, (m, i) -> {coded})), 0)")


def assign_bodc_codes(parsed: DataFrame) -> DataFrame:
    """Parsed files → one row per routed + BODC-coded channel: file_id
    and the fields of bodc_codes; unrouted/unmappable channels are
    dropped."""
    coded = F.filter(bodc_codes("channels"), lambda v: v.isNotNull())
    return parsed.select("file_id", F.inline(coded))
