"""Explicit StructTypes for the reference's own datasets.

The reference declares one explicit schema (video-game sales CSV,
Assignment-python.py:38-51) and relies on parquet/JSON self-description for
the rest; we declare all of them so fixtures and pipelines are typed
end-to-end (SURVEY.md section 1.3).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _f(name, dtype):
    return StructField(name, dtype, True)


# Video-game sales CSV (pipe-delimited, header) — Assignment-python.py:38-51.
SALES_SCHEMA = StructType(
    [
        _f("title", StringType()),
        _f("publisher", StringType()),
        _f("developer", StringType()),
        _f("release_date", DateType()),
        _f("platform", StringType()),
        _f("total_sales", DoubleType()),
        _f("na_sales", DoubleType()),
        _f("japan_sales", DoubleType()),
        _f("pal_sales", DoubleType()),
        _f("other_sales", DoubleType()),
        _f("user_score", DoubleType()),
        _f("critic_score", DoubleType()),
    ]
)

POSITION = StructType([_f("x", DoubleType()), _f("y", DoubleType())])

# Football match events — column table at Assignment-python.py:105-121.
FOOTBALL_EVENT_SCHEMA = StructType(
    [
        _f("competition", StringType()),
        _f("season", StringType()),
        _f("matchId", IntegerType()),
        _f("eventId", IntegerType()),
        _f("homeTeam", StringType()),
        _f("awayTeam", StringType()),
        _f("event", StringType()),
        _f("subEvent", StringType()),
        _f("eventTeam", StringType()),
        _f("eventPlayerId", IntegerType()),
        _f("eventPeriod", StringType()),
        _f("eventTime", DoubleType()),
        _f("tags", ArrayType(StringType())),
        _f("startPosition", POSITION),
        _f("enPosition", POSITION),
    ]
)

SUBSTITUTION = StructType(
    [
        _f("playerIn", IntegerType()),
        _f("playerOut", IntegerType()),
        _f("minute", IntegerType()),
    ]
)

TEAM_DATA = StructType(
    [
        _f("team", StringType()),
        _f("coachId", IntegerType()),
        _f("lineup", ArrayType(IntegerType())),
        _f("bench", ArrayType(IntegerType())),
        _f("substitution1", SUBSTITUTION),
        _f("substitution2", SUBSTITUTION),
        _f("substitution3", SUBSTITUTION),
    ]
)

# Matches table — Advanced 2 spec, Assignment-python.py:499-531.
MATCH_SCHEMA = StructType(
    [
        _f("matchId", IntegerType()),
        _f("competition", StringType()),
        _f("season", StringType()),
        _f("roundId", IntegerType()),
        _f("gameWeek", IntegerType()),
        _f("date", DateType()),
        _f("status", StringType()),
        _f("homeTeamData", TEAM_DATA),
        _f("awayTeamData", TEAM_DATA),
    ]
)

# Players table — Assignment-python.py:533-542.
PLAYER_SCHEMA = StructType(
    [
        _f("playerId", IntegerType()),
        _f("firstName", StringType()),
        _f("lastName", StringType()),
        _f("birthArea", StringType()),
        _f("role", StringType()),
        _f("foot", StringType()),
    ]
)

# ProCem energy time series — Assignment-python.py:854-866.
ENERGY_SCHEMA = StructType(
    [
        _f("time", LongType()),
        _f("temperature", DoubleType()),
        _f("humidity", DoubleType()),
        _f("wind_speed", DoubleType()),
        _f("power_tenants", DoubleType()),
        _f("power_maintenance", DoubleType()),
        _f("power_solar_panels", DoubleType()),
        _f("electricity_price", DoubleType()),
    ]
)
