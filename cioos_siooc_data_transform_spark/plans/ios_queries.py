"""IOS-parser [Q] entries for the driver harness.

The driver's tables carry no IOS files, so these queries parse a small
self-authored IOS-format document (same grammar as the reference corpus:
*FILE section, $TABLE: CHANNELS / CHANNEL DETAIL, fixed-width data block)
embedded as a literal, through the REAL Spark path (mapInPandas parse →
explode to long format → pad masking → BODC coding), and the oracle is a
hand-computed VALUES table — a golden-file check the driver can hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cioos_siooc_data_transform_spark.plans.registry import register

# Self-authored sample (NOT copied from the reference corpus): 3 channels,
# 4 records, pad -99 in record 2, PDT start time (fixed +7 h offset).
SAMPLE_IOS = """*2024/01/15 10:00:00.00
*IOS HEADER VERSION 2.0      2016/04/28 2016/06/13

*FILE
    START TIME          : PDT 2024/01/10 08:30:00.000
    TIME INCREMENT      : 0 0 30 0 0  ! (day hr min sec ms)
    NUMBER OF RECORDS   : 4
    DATA DESCRIPTION    : CTD
    PAD                 : -99
    NUMBER OF CHANNELS  : 3

    $TABLE: CHANNELS
    ! No Name                 Units           Minimum  Maximum
    !--- -------------------- --------------- -------- --------
       1 Pressure             decibar         1.0      4.5
       2 Temperature:Primary  'deg C (ITS90)' 7.1      9.9
       3 Salinity:T0:C0       PSS-78          30.1     31.5
    $END

    $TABLE: CHANNEL DETAIL
    ! No  Pad   Start  Width  Format  Type  Decimal_Places
    !---  ----  -----  -----  ------  ----  --------------
       1  -99   ' '        8  F       ' '     1
       2  -99   ' '        8  F       ' '     4
       3  -99   ' '        8  F       ' '     4
    $END

*ADMINISTRATION
    MISSION             : 2024-001
    AGENCY              : Test Agency

*LOCATION
    STATION             : T1
    EVENT NUMBER        : 7
    LATITUDE            :  49  30.00000 N  ! (deg min)
    LONGITUDE           : 123  15.00000 W  ! (deg min)

*END OF HEADER
     1.0  7.1000 30.1000
     2.0  8.2000 30.8000
     3.0   -99.0 31.2000
     4.5  9.9000 31.5000
"""


# One parse per (session, sample), held as a cached temp view: the
# mapInPandas parse crosses into Python, and an uncached plan re-runs that
# crossing for every query that reads the sample (and for every branch of
# a query that reads it twice, like the mooring view's measurements ⋈
# observation times). Caching the 1-row parsed view turns all downstream
# ios_* queries into pure-JVM reads of an InMemoryRelation; the view and
# its cache die with the session.
def _parse_cached(spark: SparkSession, key: str, path: str, text: str) -> DataFrame:
    from cioos_siooc_data_transform_spark.session import lookup_view
    from cioos_siooc_data_transform_spark.sources.ios_source import parse_ios

    view = f"__ios_parsed_{key}"
    df = lookup_view(spark, view)
    if df is None:
        files = spark.createDataFrame(
            [(path, bytearray(text.encode("ascii")))],
            "path STRING, content BINARY",
        )
        parse_ios(files).createOrReplaceTempView(view)
        spark.catalog.cacheTable(view)
        df = spark.table(view)
        df.count()  # materialize so the Python crossing happens exactly once
    return df


def _parsed_sample(spark: SparkSession) -> DataFrame:
    return _parse_cached(
        spark, "sample", "memory://sample-2024-001-0007.ctd", SAMPLE_IOS
    )


@register(
    "ios_parse_measurements",
    oracle="""
    SELECT file_id, record_idx, channel_idx, CAST(v AS DOUBLE) AS value_num
    FROM (VALUES
      ('sample-2024-001-0007', 0, 1, 1.0), ('sample-2024-001-0007', 0, 2, 7.1),
      ('sample-2024-001-0007', 0, 3, 30.1),
      ('sample-2024-001-0007', 1, 1, 2.0), ('sample-2024-001-0007', 1, 2, 8.2),
      ('sample-2024-001-0007', 1, 3, 30.8),
      ('sample-2024-001-0007', 2, 1, 3.0), ('sample-2024-001-0007', 2, 2, NULL),
      ('sample-2024-001-0007', 2, 3, 31.2),
      ('sample-2024-001-0007', 3, 1, 4.5), ('sample-2024-001-0007', 3, 2, 9.9),
      ('sample-2024-001-0007', 3, 3, 31.5)
    ) AS t(file_id, record_idx, channel_idx, v)
    """,
)
def ios_parse_measurements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full path: mapInPandas parse → posexplode×2 → pad masking (P4/J5).
    Record 2's temperature (-99.0 == pad) must surface as NULL."""
    from cioos_siooc_data_transform_spark.sources.ios_source import (
        ios_measurements_masked,
    )

    meas = ios_measurements_masked(_parsed_sample(spark))
    return meas.select(
        "file_id",
        F.col("record_idx").cast("int").alias("record_idx"),
        F.col("channel_idx").cast("int").alias("channel_idx"),
        "value_num",
    )


@register(
    "ios_parse_catalog",
    oracle="""
    SELECT 'sample-2024-001-0007' AS file_id,
           TIMESTAMP '2024-01-10 15:30:00' AS start_ts,  -- PDT + 7 h
           CAST(1800.0 AS DOUBLE) AS time_increment_s,
           4 AS n_records, 3 AS n_channels,
           CAST(49.5 AS DOUBLE) AS latitude,
           CAST(-123.25 AS DOUBLE) AS longitude,
           'T1' AS station, '7' AS event_number, '2024-001' AS mission,
           'fixed_width' AS parse_strategy
    """,
)
def ios_parse_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cioos_siooc_data_transform_spark.sources.ios_source import ios_catalog

    cat = ios_catalog(_parsed_sample(spark))
    return cat.select(
        "file_id", "start_ts", "time_increment_s", "n_records", "n_channels",
        "latitude", "longitude", "station", "event_number", "mission",
        "parse_strategy",
    )


@register(
    "ios_bodc_codes",
    oracle="""
    SELECT * FROM (VALUES
      ('sample-2024-001-0007', 1, 'pressure',    'PRESPR01', 'decibar'),
      ('sample-2024-001-0007', 2, 'temperature', 'TEMPS901', 'deg C'),
      ('sample-2024-001-0007', 3, 'salinity',    'PSALST01', 'PSS-78')
    ) AS t(file_id, channel_idx, var_type, var_code, units)
    """,
)
def ios_bodc_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3+W2: routing ladder → BODC mapping → occurrence numbering."""
    from cioos_siooc_data_transform_spark.operators.bodc import assign_bodc_codes

    codes = assign_bodc_codes(_parsed_sample(spark))
    return codes.select(
        "file_id",
        F.col("channel_idx").cast("int").alias("channel_idx"),
        "var_type", "var_code", "units",
    )


@register(
    "ios_observation_times",
    oracle="""
    SELECT 'sample-2024-001-0007' AS file_id,
           CAST(i AS INT) AS record_idx,
           TIMESTAMP '2024-01-10 15:30:00' + to_seconds(i * 1800) AS obs_ts
    FROM unnest(generate_series(0, 3)) AS t(i)
    """,
)
def ios_observation_times_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: obs_ts = start + i·dt, generated executor-side."""
    from cioos_siooc_data_transform_spark.sources.ios_source import (
        ios_observation_times,
    )

    ot = ios_observation_times(_parsed_sample(spark))
    return ot.select(
        "file_id", F.col("record_idx").cast("int").alias("record_idx"), "obs_ts"
    )


# ---------------------------------------------------------------------------
# Mooring variant (S14/A4): END TIME present, TIME INCREMENT absent →
# dt inferred as (end − start)/(nrec − 1); Date/Time channels stay strings.
# ---------------------------------------------------------------------------
SAMPLE_MOORING = """*2024/02/01 09:00:00.00
*IOS HEADER VERSION 1.10 2011/10/26 2011/10/26

*FILE
    START TIME          : UTC 2024/01/01 00:00:00.000
    END TIME            : UTC 2024/01/01 03:00:00.000
    NUMBER OF RECORDS   : 4
    DATA DESCRIPTION    : CTD
    PAD                 : -99
    NUMBER OF CHANNELS  : 4

    $TABLE: CHANNELS
    ! No Name            Units        Minimum  Maximum
    !--- --------------- ------------ -------- --------
       1 Date            YYYY/MM/DD   0        3
       2 Time            HH:MM:SS     0        1
       3 Temperature     'deg C'      6.0      8.0
       4 Salinity        PSS-78       31.0     32.0
    $END

    $TABLE: CHANNEL DETAIL
    ! No  Pad   Start  Width  Format      Type  Decimal_Places
    !---  ----  -----  -----  ----------  ----  --------------
       1  -99   ' '    ' '    YYYY/MM/DD  D     ' '
       2  -99   ' '    ' '    HH:MM:SS    T     ' '
       3  ' '   ' '        9  f           R4      4
       4  ' '   ' '        9  f           R4      4
    $END

*ADMINISTRATION
    MISSION             : 2024-002

*LOCATION
    STATION             : M1
    LATITUDE            :  50  00.00000 N  ! (deg min)
    LONGITUDE           : 125  00.00000 W  ! (deg min)

*DEPLOYMENT
    MISSION             : 2024-002

*END OF HEADER
 2024/01/01 00:00:00   6.1000  31.1000
 2024/01/01 01:00:00   6.5000  31.4000
 2024/01/01 02:00:00   7.2000  31.7000
 2024/01/01 03:00:00   7.9000  32.0000
"""


def _parsed_mooring(spark: SparkSession) -> DataFrame:
    return _parse_cached(spark, "mooring", "memory://m1_2024.mctd", SAMPLE_MOORING)


# ---------------------------------------------------------------------------
# Current-meter variant (S11 strategy 1): an explicit FORMAT line drives
# the Fortran-descriptor reader (fortran_spec.py) instead of the
# CHANNEL DETAIL widths — parse_strategy must come back 'fortran'.
# ---------------------------------------------------------------------------
SAMPLE_CURRENT = """*2024/03/01 12:00:00.00
*IOS HEADER VERSION 1.10 2011/10/26 2011/10/26

*FILE
    START TIME          : UTC 2024/02/01 00:00:00.000
    NUMBER OF RECORDS   : 3
    DATA DESCRIPTION    : Current observations
    NUMBER OF CHANNELS  : 2
    FORMAT              : (F7.1,F8.2)

    $TABLE: CHANNELS
    ! No Name            Units    Minimum  Maximum
    !--- --------------- -------- -------- --------
       1 Speed:East      cm/s     -10.0    10.0
       2 Speed:North     cm/s     -20.0    20.0
    $END

*ADMINISTRATION
    MISSION             : 2024-003

*LOCATION
    STATION             : C1
    LATITUDE            :  48  30.00000 N  ! (deg min)
    LONGITUDE           : 124  00.00000 W  ! (deg min)

*END OF HEADER
    1.5   -3.25
   -2.0    4.50
    9.9  -19.75
"""


def _parsed_current(spark: SparkSession) -> DataFrame:
    return _parse_cached(spark, "current", "memory://c1_2024.cur", SAMPLE_CURRENT)


@register(
    "ios_fortran_format_parse",
    oracle="""
    SELECT file_id, record_idx, channel_idx,
           CAST(v AS DOUBLE) AS value_num, 'fortran' AS parse_strategy
    FROM (VALUES
      ('c1_2024', 0, 1, 1.5),  ('c1_2024', 0, 2, -3.25),
      ('c1_2024', 1, 1, -2.0), ('c1_2024', 1, 2, 4.5),
      ('c1_2024', 2, 1, 9.9),  ('c1_2024', 2, 2, -19.75)
    ) AS t(file_id, record_idx, channel_idx, v)
    """,
)
def ios_fortran_format_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 strategy 1: the FORMAT line routes the data block through the
    Fortran descriptor reader (sources/fortran_spec.py, the IDT
    Fortran-format contract); the catalog must record
    parse_strategy='fortran', proving the fixed-width fallback never
    fired."""
    from cioos_siooc_data_transform_spark.sources.ios_source import (
        ios_catalog,
        ios_measurements,
    )

    parsed = _parsed_current(spark)
    meas = ios_measurements(parsed)
    strat = ios_catalog(parsed).select("file_id", "parse_strategy")
    return meas.join(strat, "file_id").select(
        "file_id",
        F.col("record_idx").cast("int").alias("record_idx"),
        F.col("channel_idx").cast("int").alias("channel_idx"),
        "value_num",
        "parse_strategy",
    )


@register(
    "ios_mooring_inferred_dt",
    oracle="""
    SELECT 'm1_2024' AS file_id,
           TIMESTAMP '2024-01-01 00:00:00' AS start_ts,
           TIMESTAMP '2024-01-01 03:00:00' AS end_ts,
           CAST(3600.0 AS DOUBLE) AS time_increment_s,
           4 AS n_records
    """,
)
def ios_mooring_inferred_dt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME INCREMENT missing → dt = (end − start)/(nrec − 1)
    (IDT/ObsFile.py:501-505)."""
    from cioos_siooc_data_transform_spark.sources.ios_source import ios_catalog

    return ios_catalog(_parsed_mooring(spark)).select(
        "file_id", "start_ts", "end_ts", "time_increment_s", "n_records"
    )


@register(
    "ios_mooring_timeseries",
    oracle="""
    SELECT 'm1_2024' AS file_id,
           CAST(i AS INT) AS record_idx,
           TIMESTAMP '2024-01-01 00:00:00' + to_seconds(i * 3600) AS obs_ts,
           CAST(t AS DOUBLE) AS temperature
    FROM (VALUES (0, 6.1), (1, 6.5), (2, 7.2), (3, 7.9)) AS v(i, t)
    """,
)
def ios_mooring_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated obs_ts joined to the Temperature channel — the mooring
    user view on the embedded sample; timestamps must line up with the
    file's own Date/Time string channels."""
    from cioos_siooc_data_transform_spark.operators.views import (
        mooring_timeseries_view,
    )

    ts = mooring_timeseries_view(_parsed_mooring(spark))
    return ts.filter(F.col("channel_idx") == 3).select(
        "file_id",
        F.col("record_idx").cast("int").alias("record_idx"),
        "obs_ts",
        F.col("value_num").alias("temperature"),
    )
