"""Advanced Task 2: minutes played and plus-minus statistics.

The reference specifies this task in prose only (placeholders ``???`` at
Assignment-python.py:590,597); semantics implemented from the spec at
:544-584 (SURVEY.md §2.13):

* Match length = 45 min (first half, fixed regardless of 1H additional time)
  + ceil(max 2H event time / 60) min.
* A substitution at minute m happens at the START of minute m; m < 45 is a
  first-half instant, m >= 45 maps to second ``(m-45)*60`` of the second
  half (a player subbed ON at m >= 45 plays only the 2H; one subbed OFF at
  m >= 45 is on for the whole 1H including additional time, :562-566).
* A goal counts +1 for on-pitch players of the scoring team, -1 for on-pitch
  players of the conceding team, 0 for bench/uninvolved players. Goal events
  are the goalkeeper's "Save attempt" tagged "Goal" (the keeper's team
  concedes, Basic-2 semantics).

Match time is totally ordered by the (period, second) pair, encoded as
``period_idx * 100000 + seconds`` so a 1H additional-time goal (1H, 2700+s)
sorts before every 2H instant — the rule the prose spells out.

Scale notes: the goal-attribution join is a per-match equi-join with a range
condition (:func:`..operators.intervals.point_in_interval_join`) — fan-out is
(goals per match) × (players per match) ≈ 3 × 28, constant per key, so the
plan is a plain shuffle join scaling linearly in matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.intervals import point_in_interval_join

# beyond any real instant: period index 2
_NEVER_OFF_CODE = 2 * 100000


def _minute_code(minute) -> F.Column:
    """Substitution minute → (period, second) code; start-of-minute rule."""
    m = minute
    return (
        F.when(m < 45, m * 60)
        .otherwise(F.lit(100000) + (m - 45) * 60)
        .cast("double")
    )


def second_half_lengths(events: DataFrame) -> DataFrame:
    """Per-match 2H length in whole minutes (last event, rounded up)."""
    return (
        events.filter(F.col("eventPeriod") == "2H")
        .groupBy("matchId")
        .agg(F.ceil(F.max("eventTime") / 60).cast("int").alias("len2h"))
    )


def _side_rows(matches: DataFrame, side: str) -> DataFrame:
    td = F.col(side)
    subs = F.filter(
        F.array(
            td.getField("substitution1"),
            td.getField("substitution2"),
            td.getField("substitution3"),
        ),
        lambda s: s.getField("playerIn").isNotNull(),
    )
    return matches.select(
        "matchId",
        "season",
        td.getField("team").alias("team"),
        td.getField("lineup").alias("lineup"),
        subs.alias("subs"),
    )


def player_intervals(matches: DataFrame, events: DataFrame) -> DataFrame:
    """One row per (match, involved player): on/off instants.

    Columns: matchId, season, team, playerId, on_min, off_min (unified minute
    scale for duration), on_code, off_code ((period,second) codes for goal
    containment).
    """
    sides = _side_rows(matches, "homeTeamData").unionByName(
        _side_rows(matches, "awayTeamData")
    )
    starters = sides.select(
        "matchId", "season", "team", F.explode("lineup").alias("playerId")
    ).withColumn("on_min", F.lit(0))
    subbed_in = sides.select(
        "matchId", "season", "team", F.explode("subs").alias("s")
    ).select(
        "matchId",
        "season",
        "team",
        F.col("s").getField("playerIn").alias("playerId"),
        F.col("s").getField("minute").alias("on_min"),
    )
    outs = sides.select("matchId", "team", F.explode("subs").alias("s")).select(
        "matchId",
        "team",
        F.col("s").getField("playerOut").alias("playerId"),
        F.col("s").getField("minute").alias("out_min"),
    )
    on_rows = starters.unionByName(subbed_in)
    with_out = on_rows.join(outs, on=["matchId", "team", "playerId"], how="left")
    # no broadcast hint: the per-match length table is one row per MATCH —
    # SF-scaled, not bounded — so a forced broadcast would ship the whole
    # season history to every executor at corpus scale. Size-based CBO/AQE
    # still broadcasts it at bench scale and degrades to a shuffle join on
    # the matchId equi key beyond the threshold.
    with_len = with_out.join(
        second_half_lengths(events), on="matchId", how="left"
    ).withColumn("match_len", F.lit(45) + F.coalesce(F.col("len2h"), F.lit(45)))
    return with_len.select(
        "matchId",
        "season",
        "team",
        "playerId",
        "on_min",
        F.coalesce(F.col("out_min"), F.col("match_len")).alias("off_min"),
        _minute_code(F.col("on_min")).alias("on_code"),
        F.when(F.col("out_min").isNotNull(), _minute_code(F.col("out_min")))
        .otherwise(F.lit(float(_NEVER_OFF_CODE)))
        .alias("off_code"),
    )


def minutes_played(intervals: DataFrame) -> DataFrame:
    """Total minutes per player across matches."""
    return (
        intervals.withColumn("minutes", F.col("off_min") - F.col("on_min"))
        .groupBy("playerId")
        .agg(F.sum("minutes").cast("int").alias("minutes"))
    )


def most_minutes_by_role(intervals: DataFrame, players: DataFrame) -> DataFrame:
    """Top player by total minutes for each role (spec output 1, :572-578)."""
    mins = minutes_played(intervals)
    joined = mins.join(F.broadcast(players), on="playerId")
    w = Window.partitionBy("role").orderBy(F.desc("minutes"), F.asc("playerId"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "role",
            F.concat_ws(" ", "firstName", "lastName").alias("player"),
            "birthArea",
            "minutes",
        )
    )


def goal_instants(events: DataFrame) -> DataFrame:
    """One row per goal: (matchId, scoring team, (period,second) code)."""
    goals = events.filter(
        (F.col("event") == "Save attempt") & F.array_contains("tags", "Goal")
    )
    period_idx = F.when(F.col("eventPeriod") == "1H", 0).otherwise(1)
    scoring_team = F.when(
        F.col("eventTeam") == F.col("homeTeam"), F.col("awayTeam")
    ).otherwise(F.col("homeTeam"))
    return goals.select(
        "matchId",
        scoring_team.alias("scoringTeam"),
        (period_idx * 100000 + F.col("eventTime")).alias("goal_code"),
    )


def plus_minus(intervals: DataFrame, events: DataFrame) -> DataFrame:
    """Per-player plus-minus total: join goals to containing play intervals."""
    goals = goal_instants(events)
    joined = point_in_interval_join(
        goals,
        intervals,
        on=["matchId"],
        point_col="goal_code",
        start_col="on_code",
        end_col="off_code",
    )
    sign = F.when(F.col("scoringTeam") == F.col("team"), 1).otherwise(-1)
    return (
        joined.groupBy("playerId")
        .agg(F.sum(sign).cast("int").alias("plusMinus"))
    )


def top_plus_minus(
    intervals: DataFrame,
    events: DataFrame,
    players: DataFrame,
    threshold: int = 65,
) -> DataFrame:
    """Players above a plus-minus threshold (spec output 2, :579-584)."""
    pm = plus_minus(intervals, events)
    return (
        pm.filter(F.col("plusMinus") > threshold)
        .join(F.broadcast(players), on="playerId")
        .select(
            F.concat_ws(" ", "firstName", "lastName").alias("player"),
            "birthArea",
            "role",
            "plusMinus",
        )
        .orderBy(F.desc("plusMinus"), F.asc("player"))
    )
