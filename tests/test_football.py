"""Golden-fixture + property tests for the football pipeline (Basic 2-8).

Fixture: a 2-league mini-season small enough to hand-compute every number,
covering the SURVEY.md §8 quirk paths: 0-0 matches surviving the left join
(Q8), "+0" GD formatting in the league table vs "0" in the overview (Q2),
rank() ties returning >2 teams (Q6), ratio-of-sums pass ratio (Q4).
"""

from __future__ import annotations

import pytest

from data_engineering_assignment_spark.pipelines import football as fb
from data_engineering_assignment_spark.schemas import FOOTBALL_EVENT_SCHEMA


def ev(match_id, home, away, event, team, tags, comp="L1", season="2017-2018"):
    return (
        comp, season, match_id, hash((match_id, event, team, tuple(tags))) % 10_000,
        home, away, event, None, team, None, "1H", 100.0, tags, None, None,
    )


def goal_against(match_id, home, away, keeper_team, **kw):
    """Goalkeeper save-attempt tagged Goal — keeper's team CONCEDES (:168-177)."""
    return ev(match_id, home, away, "Save attempt", keeper_team, ["Goal"], **kw)


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        # L1 match 1: A 2-1 B  (B's keeper concedes twice, A's keeper once)
        goal_against(1, "A", "B", "B"),
        goal_against(1, "A", "B", "B"),
        goal_against(1, "A", "B", "A"),
        # L1 match 2: A 0-0 C — NO goal events at all (Q8 path); one pass so
        # the match exists in the event stream.
        ev(2, "A", "C", "Pass", "A", ["Accurate"]),
        # L1 match 3: B 1-1 C
        goal_against(3, "B", "C", "B"),
        goal_against(3, "B", "C", "C"),
        # Pass events for ratio tests: A 3/4 accurate in m1, 1/2 in m2 →
        # season ratio-of-sums = 4/6 = 66.67 (avg-of-ratios would be 62.5, Q4)
        ev(1, "A", "B", "Pass", "A", ["Accurate"]),
        ev(1, "A", "B", "Pass", "A", ["Accurate"]),
        ev(1, "A", "B", "Pass", "A", ["Accurate"]),
        ev(1, "A", "B", "Pass", "A", []),
        ev(2, "A", "C", "Pass", "A", []),  # + the Accurate one above = 1/2
        ev(1, "A", "B", "Pass", "B", ["Accurate"]),
        ev(3, "B", "C", "Pass", "C", []),
        # L2: two matches, engineered so two teams tie on Avg (Q6)
        goal_against(10, "X", "Y", "Y", comp="L2"),   # X 1-0 Y
        goal_against(11, "Z", "W", "W", comp="L2"),   # Z 1-0 W
        ev(10, "X", "Y", "Pass", "X", ["Accurate"], comp="L2"),
        ev(11, "Z", "W", "Pass", "Z", ["Accurate"], comp="L2"),
    ]
    return spark.createDataFrame(rows, FOOTBALL_EVENT_SCHEMA)


def test_match_results_scores_and_q8_zero_zero(events):
    res = {
        r["matchId"]: (r["homeTeamGoals"], r["awayTeamGoals"])
        for r in fb.match_results(events).collect()
    }
    assert res[1] == (2, 1)
    assert res[2] == (0, 0)  # Q8: no goal events, survives via left join + fillna
    assert res[3] == (1, 1)


def test_season_table_invariants_and_values(events):
    table = fb.season_table(fb.match_results(events)).collect()
    by_team = {(r["competition"], r["team"]): r for r in table}
    # every match contributes exactly 2 team-rows
    assert sum(r["games"] for r in table) == 2 * 5
    # goals scored == goals conceded league-wide
    for comp in ("L1", "L2"):
        rows = [r for r in table if r["competition"] == comp]
        assert sum(r["goalsScored"] for r in rows) == sum(r["goalsConceded"] for r in rows)
    for r in table:
        assert r["wins"] + r["draws"] + r["losses"] == r["games"]
        assert r["points"] == 3 * r["wins"] + r["draws"]
    a = by_team[("L1", "A")]
    assert (a["games"], a["wins"], a["draws"], a["points"]) == (2, 1, 1, 4)


def test_league_table_order_and_gd_format_q2(events):
    lt = fb.league_table(fb.season_table(fb.match_results(events))).collect()
    assert [r["Team"] for r in lt] == ["A", "C", "B"]
    gd = {r["Team"]: r["GD"] for r in lt}
    assert gd["A"] == "+1"
    assert gd["C"] == "+0"  # format_string('%+d', 0) → "+0" (Q2, :317)
    assert gd["B"] == "-1"
    assert [r["Pos"] for r in lt] == [1, 2, 3]


def test_pass_ratio_is_ratio_of_sums_q4(events):
    stats = fb.match_pass_stats(events)
    ratios = {
        (r["competition"], r["team"]): r["passSuccessRatio"]
        for r in fb.season_pass_ratios(stats).collect()
    }
    assert ratios[("L1", "A")] == pytest.approx(66.67)  # 4/6, not avg(75, 50)


def test_team_overview_rank_ties_q6_and_gd_format(events):
    season = fb.season_table(fb.match_results(events))
    stats = fb.match_pass_stats(events)
    overview = fb.team_overview(season, stats).collect()
    l2 = [r for r in overview if r["Competition"] == "L2"]
    # X and Z both won their only match (Avg 3.0) → rank() ties → both kept,
    # and Y/W (rank 3) excluded... but rank<=2 with a 2-way tie admits ranks
    # {1,1,3}: Y and W have Avg 0.0 → rank 3 → excluded.
    assert sorted(r["Team"] for r in l2) == ["X", "Z"]
    l1_gd = {r["Team"]: r["GD"] for r in overview if r["Competition"] == "L1"}
    for team, gd in l1_gd.items():
        assert not gd.startswith("+0")  # concat variant renders 0 as "0" (Q2)


def test_overview_includes_pass_ratio_left_join(events):
    season = fb.season_table(fb.match_results(events))
    stats = fb.match_pass_stats(events)
    overview = {r["Team"]: r for r in fb.team_overview(season, stats).collect()}
    assert overview["A"]["PassRatio"] == pytest.approx(66.67)
