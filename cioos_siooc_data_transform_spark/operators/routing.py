"""Channel → variable routing (SURVEY.md §2.2 P2).

The reference routes each channel to a typed output variable with
keyword-containment predicates plus exclusion lists, dropping unmatched
channels with a log line (IDT/write_ctd_ncfile.py:102-143, mooring variant
IDT/write_mctd_ncfile.py:100-131). Relational form: a CASE WHEN ladder
producing a ``var_type`` column; drop = filter NOT NULL.

The ladder is SQL text, built from CTD_ROUTING_RULES with plain string
functions and handed to the JVM in one ``F.expr``: a Column tree would
cost a py4j round trip per node, and the BODC ladder (operators/bodc.py)
embeds this one.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (var_type, include keywords, exclude keywords) — order matters: first
# match wins, like the reference's if/elif ladder.
CTD_ROUTING_RULES: list[tuple[str, list[str], list[str]]] = [
    ("depth", ["depth"], ["nominal"]),
    ("pressure", ["pressure"], []),
    ("temperature", ["temperature"], ["flag", "rinko", "bottle"]),
    ("salinity", ["salinity"], ["flag"]),
    (
        "oxygen",
        ["oxygen"],
        ["flag", "bottle", "rinko", "temperature", "current", "isotope", "saturation"],
    ),
    ("conductivity", ["conductivity"], []),
    ("nutrient", ["nitrate_plus_nitrite", "silicate", "phosphate"], ["flag"]),
]


def sql_literal(s: str) -> str:
    """A Spark SQL string literal of ``s``, with ``\\`` and ``'`` escaped."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_ident(name: str) -> str:
    """A column name quoted as one SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _contains_any(sql: str, keywords: list[str]) -> str:
    """SQL: case-insensitive 'any keyword is a substring' of the string
    expression ``sql`` (IDT/utils.py:15-18). Shared with the BODC ladder —
    a containment-matching fix must apply to both, or routing and BODC
    coding diverge."""
    tests = [f"contains(upper({sql}), {sql_literal(k.upper())})" for k in keywords]
    return "(" + (" OR ".join(tests) or "false") + ")"


def routing_sql(name_sql: str, rules=None) -> str:
    """SQL CASE WHEN ladder: the channel-name expression ``name_sql`` →
    var_type (NULL = drop); the first matching rule wins."""
    whens = []
    for var_type, inc, exc in CTD_ROUTING_RULES if rules is None else rules:
        cond = _contains_any(name_sql, inc)
        if exc:
            cond += f" AND NOT {_contains_any(name_sql, exc)}"
        whens.append(f"WHEN {cond} THEN {sql_literal(var_type)}")
    return f"CASE {' '.join(whens)} END"


def dropped_channels(channels, rules=None):
    """Audit view: channels the routing ladder drops (the reference logs
    and skips them, IDT/write_ctd_ncfile.py:142-143 — visible in its run
    log for Transmissivity/PAR/Fluorescence). Returns the unrouted rows so
    pipelines can surface them instead of losing them silently."""
    return channels.withColumn(
        "var_type", route_channels("name", rules)
    ).filter(F.col("var_type").isNull()).drop("var_type")


def route_channels(name: str, rules=None) -> Column:
    """The routing ladder over the string column ``name`` → var_type."""
    return F.expr(routing_sql(sql_ident(name), rules))
