"""Basic Tasks 2-8: football match-event analytics.

Re-implements the reference pipeline (Assignment-python.py:133-484) with the
same semantics, reorganized as composable functions:

  events → match_results (goals per match, 0-0 via left join + fillna)
         → season_rows (home/away unionByName reshape) → season_table
         → league_table (ranked, formatted)
  events → match_pass_stats → season_pass_ratios (ratio-of-sums, Q4)
  season_table + pass ratios → team_overview (career stats, per-league rank≤2)

Semantics preserved exactly, including the quirks documented in SURVEY.md §8:
goal attribution counts the *goalkeeper's* "Save attempt" events tagged
"Goal", crediting the opposing team (:168-177); GD is "%+d"-formatted in the
league table (:317) but sign-concat-formatted ("0", not "+0") in the team
overview (:471-474); per-league ranking uses rank() with ties (:451-458).

Scale notes: one wide shuffle per aggregation level, all keyed on
(competition, season, team)-grade keys; the goals/passes aggregations are
partial-aggregated map-side; the final league join is broadcast-sized (teams,
not events).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MATCH_KEYS = ["matchId", "competition", "season", "homeTeam", "awayTeam"]


def match_results(events: DataFrame) -> DataFrame:
    """Per-match final score (Basic 2, :168-188).

    A goal is counted from the goalkeeper's "Save attempt" event carrying the
    "Goal" tag, so the event's team *concedes* and the opponent scores.
    Matches with no goals survive via distinct-keys left join + fillna (Q8).
    """
    goal_events = events.filter(
        (F.col("event") == "Save attempt") & F.array_contains("tags", "Goal")
    )
    goal_counts = goal_events.groupBy(*MATCH_KEYS).agg(
        F.sum(F.when(F.col("eventTeam") == F.col("awayTeam"), 1).otherwise(0))
        .cast("int")
        .alias("homeTeamGoals"),
        F.sum(F.when(F.col("eventTeam") == F.col("homeTeam"), 1).otherwise(0))
        .cast("int")
        .alias("awayTeamGoals"),
    )
    all_matches = events.select(*MATCH_KEYS).distinct()
    return all_matches.join(goal_counts, on=MATCH_KEYS, how="left").fillna(
        {"homeTeamGoals": 0, "awayTeamGoals": 0}
    )


def season_rows(matches: DataFrame) -> DataFrame:
    """Match → two team-rows reshape via unionByName (Basic 3, :228-254)."""
    home = matches.select(
        "competition",
        "season",
        F.col("homeTeam").alias("team"),
        F.col("homeTeamGoals").alias("goalsScored"),
        F.col("awayTeamGoals").alias("goalsConceded"),
    )
    away = matches.select(
        "competition",
        "season",
        F.col("awayTeam").alias("team"),
        F.col("awayTeamGoals").alias("goalsScored"),
        F.col("homeTeamGoals").alias("goalsConceded"),
    )
    rows = home.unionByName(away)
    s, c = F.col("goalsScored"), F.col("goalsConceded")
    return (
        rows.withColumn("win", F.when(s > c, 1).otherwise(0))
        .withColumn("draw", F.when(s == c, 1).otherwise(0))
        .withColumn("loss", F.when(s < c, 1).otherwise(0))
        .withColumn("points", F.when(s > c, 3).when(s == c, 1).otherwise(0))
    )


def season_table(matches: DataFrame) -> DataFrame:
    """Per-team season statistics (Basic 4, :257-265)."""
    return season_rows(matches).groupBy("competition", "season", "team").agg(
        F.count(F.lit(1)).cast("int").alias("games"),
        F.sum("win").cast("int").alias("wins"),
        F.sum("draw").cast("int").alias("draws"),
        F.sum("loss").cast("int").alias("losses"),
        F.sum("goalsScored").cast("int").alias("goalsScored"),
        F.sum("goalsConceded").cast("int").alias("goalsConceded"),
        F.sum("points").cast("int").alias("points"),
    )


def league_table(season: DataFrame) -> DataFrame:
    """Ranked league table with formatted GD (Basic 5, :300-332).

    Global (unpartitioned) row_number window ordered by points, GD, GF — a
    per-league table is small, so the single-partition window is fine at any
    input scale (the wide data was already aggregated away).
    """
    competition = "L1"
    filtered = season.filter(F.col("competition") == competition)
    order = Window.orderBy(
        F.desc("points"),
        F.desc(F.col("goalsScored") - F.col("goalsConceded")),
        F.desc("goalsScored"),
        F.asc("team"),
    )
    return (
        filtered.withColumn("Pos", F.row_number().over(order))
        .withColumn(
            "GD",
            F.format_string("%+d", F.col("goalsScored") - F.col("goalsConceded")),
        )
        .selectExpr(
            "Pos",
            "team AS Team",
            "games AS Pld",
            "wins AS W",
            "draws AS D",
            "losses AS L",
            "goalsScored AS GF",
            "goalsConceded AS GA",
            "GD",
            "points AS Pts",
        )
    )


def match_pass_stats(events: DataFrame) -> DataFrame:
    """Per-match, per-team pass counts (Basic 6, :357-362)."""
    return (
        events.filter(F.col("event") == "Pass")
        .groupBy("matchId", "competition", "season", "eventTeam")
        .agg(
            F.sum(F.array_contains("tags", "Accurate").cast("int"))
            .cast("int")
            .alias("successfulPasses"),
            F.count(F.lit(1)).cast("int").alias("totalPasses"),
        )
        .withColumnRenamed("eventTeam", "team")
    )


def season_pass_ratios(pass_stats: DataFrame) -> DataFrame:
    """Season pass success ratio, lowest first (Basic 7, :386-391).

    Ratio-of-sums, not avg of per-match ratios (reference code semantics, Q4).
    """
    return (
        pass_stats.groupBy("competition", "team")
        .agg(
            F.round(
                F.sum("successfulPasses") / F.sum("totalPasses") * 100, 2
            ).alias("passSuccessRatio")
        )
        .orderBy("passSuccessRatio")
    )


def team_overview(season: DataFrame, pass_stats: DataFrame) -> DataFrame:
    """Best-2-per-league career overview (Basic 8, :425-484).

    rank() (with ties, Q6) over average points per game; GD string uses the
    sign-concat variant that renders 0 as "0" (Q2).
    """
    stats = season.groupBy("competition", "team").agg(
        F.sum("games").cast("int").alias("games"),
        F.sum("wins").cast("int").alias("wins"),
        F.sum("draws").cast("int").alias("draws"),
        F.sum("losses").cast("int").alias("losses"),
        F.sum("goalsScored").cast("int").alias("goalsScored"),
        F.sum("goalsConceded").cast("int").alias("goalsConceded"),
        F.sum("points").cast("int").alias("points"),
        F.expr("SUM(goalsScored) - SUM(goalsConceded)").cast("int").alias("gd"),
    )
    ratios = pass_stats.groupBy("competition", "team").agg(
        F.round(F.sum("successfulPasses") / F.sum("totalPasses") * 100, 2).alias(
            "passSuccessRatio"
        )
    )
    joined = (
        stats.join(ratios, on=["competition", "team"], how="left")
        .withColumn("Avg", F.round(F.col("points") / F.col("games"), 2))
    )
    w = Window.partitionBy("competition").orderBy(F.col("Avg").desc())
    return (
        joined.withColumn("rank", F.rank().over(w))
        .filter(F.col("rank") <= 2)
        .withColumn(
            "GD",
            F.concat(
                F.when(F.col("gd") > 0, F.lit("+")).otherwise(F.lit("")),
                F.col("gd").cast("string"),
            ),
        )
        .select(
            F.col("competition").alias("Competition"),
            F.col("team").alias("Team"),
            F.col("games").alias("Pld"),
            F.col("wins").alias("W"),
            F.col("draws").alias("D"),
            F.col("losses").alias("L"),
            F.col("goalsScored").alias("GF"),
            F.col("goalsConceded").alias("GA"),
            "GD",
            F.col("points").alias("Pts"),
            "Avg",
            F.col("passSuccessRatio").alias("PassRatio"),
        )
        .orderBy(F.col("Avg").desc())
    )
